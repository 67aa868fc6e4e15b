"""Streaming threshold monitor — Structured Streaming over the
`events` table shape.

The reference has no streaming engine: continuous behavior is a
1-second daemon poll re-running full queries (web_scheduler.py:
1289-1582, time.sleep(1) at :1556), and alerts re-scan the whole
source every cadence (T8, :3354-3424). Here the same monitoring
semantics run incrementally:

- `stream_events`: file-stream source over event parquet drops —
  each file is processed exactly once (vs. the reference's full
  re-scan per tick);
- `windowed_event_counts`: watermarked tumbling-window aggregation —
  the event-time upgrade the polling loop cannot express (late events
  are folded into their window until the watermark closes it);
- `run_threshold_monitor`: `foreachBatch` sink evaluating the T8
  count-condition per micro-batch and firing the pluggable notifier —
  the S9 side-effect stays OUTSIDE the query plan.

Scale: state is bounded by the watermark (windows older than the
delay are evicted); the shuffle is keyed on (window, event_type) —
the same partial-aggregation plan as the batch twin s01, applied to
deltas instead of the full table.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_spark.alerting import Notifier, evaluate_condition
from etl_spark.session import pin_confs

# the driver fixture's current events schema (ts: naive timestamp[us])
EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
# the old fixture encoding: ts as raw int64 nanos (Spark's reader
# refuses nanos natively; see etl_spark.tables.load)
EVENTS_DDL_NANOS = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def stream_events(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """File-stream source over a directory of event parquet files.
    New files are discovered per micro-batch — the streaming analog of
    the reference's append-only log tables (SURVEY.md §1.1).

    With ``schema=None`` the ``ts`` encoding is sniffed from the first
    parquet file already in ``path`` (driver-local footer read), so the
    source works against both the current timestamp[us] fixture and the
    old int64-nanos one; an empty directory defaults to the current
    encoding. Either way ``ts`` is normalized to TIMESTAMP (ltz):
    the session TZ is pinned to UTC (session.py) so wall-clock values
    match tables.load's NTZ derivation exactly."""
    if schema is None:
        from etl_spark.tables import events_ts_physical_type

        try:
            ts_type = events_ts_physical_type(path)
        except FileNotFoundError:
            ts_type = "timestamp[us]"
        nanos = ts_type == "int64" or ts_type.startswith("timestamp[ns")
        schema = EVENTS_DDL_NANOS if nanos else EVENTS_DDL
    # Branch on the PARSED type of the ts field, not a substring of
    # the DDL text — caller-supplied DDL with different column order
    # or spacing must still hit the nanos conversion (ADVICE r3).
    from pyspark.sql.types import LongType, StructType

    ts_field = next(
        (f for f in StructType.fromDDL(schema).fields if f.name == "ts"), None
    )
    if ts_field is not None and isinstance(ts_field.dataType, LongType):
        pin_confs(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"})
        raw = spark.readStream.schema(schema).parquet(path)
        return raw.withColumn(
            "ts",
            F.expr(
                "CAST(TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval(0, 0, 0, "
                "CAST(ts DIV 1000 AS DECIMAL(26,0)) / 1000000) AS TIMESTAMP)"
            ),
        )
    raw = spark.readStream.schema(schema).parquet(path)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the
    streaming twin of query s01 (same expressions, incremental
    execution). Late events within the watermark still land in their
    event-time window; older ones are dropped deterministically."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_threshold_monitor(
    stream_df: DataFrame,
    notifier: Notifier,
    condition: str = "rows_gt",
    threshold: int = 0,
    filter_expr: str = "true",
    checkpoint: str | None = None,
    available_now: bool = True,
    on_batch: Callable[[int, int], Any] | None = None,
) -> StreamingQuery:
    """T8 as a `foreachBatch` sink: per micro-batch, count rows
    matching `filter_expr`, evaluate the reference's condition map,
    notify on trigger. `available_now=True` drains all pending input
    then stops — the testable/batch-drain mode; pass False for a
    continuously-running monitor."""

    def _check(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.filter(filter_expr).count()
        if on_batch is not None:
            on_batch(batch_id, n)
        if evaluate_condition(n, condition, threshold):
            notifier.send(
                subject="[stream-alert] threshold met",
                body=f"batch {batch_id}: {n} rows match {filter_expr!r}",
            )

    writer = stream_df.writeStream.foreachBatch(_check).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    events: DataFrame, key_cols: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Exactly-once-per-key streaming dedup via
    `dropDuplicatesWithinWatermark` — re-delivered events
    (at-least-once sources, replayed files, retried producers) are
    dropped if their key was seen within the watermark horizon.

    `dropDuplicates(keys)` only evicts state when the event-time
    column is itself one of the keys; for key sets like
    ``["event_id"]`` the watermark is ignored and state grows without
    bound. The WithinWatermark variant ties eviction to the watermark
    regardless of the key set, so state is one entry per key per
    horizon — bounded memory, the property the reference's
    re-scan-everything loop lacks. This is the ingestion front door of
    a training-data pipeline (every crawler delivers duplicates)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key_cols)


# ---------------------------------------------------------------------------
# streaming distinct-count monitor — the KMV sketch (extensions/
# sketches.py) maintained incrementally at the ingest front door.
# ---------------------------------------------------------------------------


def _latest_committed_version(store_path: str, below: int | None = None) -> str | None:
    """Newest ``v<N>`` directory under ``store_path`` carrying the
    _SUCCESS commit marker (optionally restricted to N < ``below`` so
    a replaying batch never reads its own partial output)."""
    import glob
    import os
    import re

    from etl_spark.streaming.neardup import batch_committed

    best: tuple[int, str] | None = None
    for d in glob.glob(os.path.join(store_path, "v*")):
        m = re.fullmatch(r"v(\d+)", os.path.basename(d))
        if not m:
            continue
        n = int(m.group(1))
        if below is not None and n >= below:
            continue
        if batch_committed(d) and (best is None or n > best[0]):
            best = (n, d)
    return None if best is None else best[1]


def run_distinct_monitor(
    stream_df: DataFrame,
    store_path: str,
    group_col: str = "event_type",
    key_col: str = "user_id",
    k: int | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
    on_batch: Callable[[int, int], Any] | None = None,
) -> StreamingQuery:
    """Per-group distinct-``key_col`` tracking as a micro-batch-merged
    KMV sketch (x76's build, kept current at ingest): every batch's
    hashed distinct keys merge into a <= k-rows-per-group stored
    sketch, so "how many distinct users did each event type see so
    far?" is answered from K rows per group — state NEVER grows with
    true cardinality, the property a streaming exact count-distinct
    (one state row per key, unbounded) cannot offer, and the
    watermarked variants can only offer per-window.

    Store layout: ``store_path/v<batch_id>`` parquet of (group, h),
    written by cell-wise KMV merge of v<batch_id-1> with the batch
    (merge = top-K of the union — the theta-sketch composition x77
    exercises cross-engine). Each version carries _SUCCESS (static
    overwrite — the dynamic-mode marker trap, sources/txlog.py note);
    a replayed batch is skipped on its own marker and would reproduce
    the identical bytes anyway, since v<N> is a pure function of the
    immutable v<N-1> and the batch. ``on_batch(batch_id, n_kept)``
    observes. Read the answer with ``distinct_estimates``."""
    import os

    from etl_spark.extensions.sketches import _H_SPARK, K_SKETCH, salted_min_k
    from etl_spark.streaming.neardup import batch_committed

    kk = k if k is not None else K_SKETCH

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        out_dir = os.path.join(store_path, f"v{batch_id}")
        if batch_committed(out_dir):
            return
        spark = batch_df.sparkSession
        hashed = batch_df.select(
            F.col(group_col).alias("grp"),
            F.expr(_H_SPARK.format(col=key_col)).alias("h"),
        ).distinct()
        prev_dir = _latest_committed_version(store_path, below=batch_id)
        if prev_dir is not None:
            hashed = spark.read.parquet(prev_dir).unionByName(hashed).distinct()
        kept = salted_min_k(hashed, ["grp"], k=kk).select("grp", "h")
        kept = kept.persist()
        n_kept = kept.count()
        (
            kept.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .parquet(out_dir)
        )
        kept.unpersist()
        if on_batch is not None:
            on_batch(batch_id, n_kept)

    writer = stream_df.writeStream.foreachBatch(_merge).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def distinct_estimates(spark: SparkSession, store_path: str, k: int | None = None) -> DataFrame:
    """Current per-group KMV distinct estimate from the newest
    committed sketch version: (grp, kept, est_distinct) — exact while
    the sketch is not full, (K-1)/U_K once it is (the x76 estimator
    over the streamed store). The input is <= k rows per group, so
    this is a driver-cheap lookup however large the stream history."""
    from pyspark.sql import Window

    from etl_spark.extensions.sketches import K_SKETCH, _est_expr

    kk = k if k is not None else K_SKETCH
    latest = _latest_committed_version(store_path)
    if latest is None:
        raise FileNotFoundError(f"no committed sketch version under {store_path}")
    kept = spark.read.parquet(latest)
    ranked = kept.withColumn(
        "rn", F.row_number().over(Window.partitionBy("grp").orderBy("h"))
    )
    agg = ranked.groupBy("grp").agg(
        F.count("*").alias("kept"),
        F.max(F.when(F.col("rn") == kk, F.col("h"))).alias("hk"),
    )
    est = (
        F.when(F.col("kept") < kk, F.col("kept").cast("double")).otherwise(
            F.lit(float(kk - 1)) / (F.col("hk") / F.lit(float(1 << 60)))
        )
        if kk != K_SKETCH
        else _est_expr("kept", "hk")
    )
    return agg.select("grp", "kept", F.round(est, 4).alias("est_distinct"))


# ---------------------------------------------------------------------------
# streaming weighted sample — x80's priority sample maintained
# incrementally (sample once, slice forever — now over a stream).
# ---------------------------------------------------------------------------


def run_weighted_sample_monitor(
    stream_df: DataFrame,
    store_path: str,
    weight_col: str = "value",
    id_col: str = "event_id",
    keep_cols: tuple[str, ...] = ("event_type",),
    k: int = 512,
    checkpoint: str | None = None,
    available_now: bool = True,
    on_batch: Callable[[int, int], Any] | None = None,
) -> StreamingQuery:
    """Priority sampling (x80, Duffield-Lund-Thorup '07) at the ingest
    front door: each micro-batch's rows get priority q = w/u (u an
    md5-uniform hash of ``id_col``), and the stored sample is the
    top-(k+1) priorities of (previous store ∪ batch) — k+1 rows
    FOREVER, whatever the stream's length. Priority top-K is
    associative with the deterministic (q desc, h) tie-break, so the
    streamed store equals the one-shot sample over everything seen
    (asserted in tests), and every subset-sum estimate drawn from it
    is unbiased — one stored sample answers arbitrary post-hoc
    group-bys over the whole stream history.

    Store layout mirrors ``run_distinct_monitor``: versioned
    ``v<batch_id>`` parquet of (``id_col``, *keep_cols, w, h, q), each
    version _SUCCESS-committed, replays skipped on the marker.
    ``on_batch(batch_id, n_kept)`` observes. Read with
    ``weighted_sample_estimates``."""
    import os

    from etl_spark.extensions.sketches import _H_SPARK, _Q_EXPR
    from etl_spark.streaming.neardup import batch_committed

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        out_dir = os.path.join(store_path, f"v{batch_id}")
        if batch_committed(out_dir):
            return
        spark = batch_df.sparkSession
        pri = batch_df.select(
            F.col(id_col).alias("sample_id"),
            *keep_cols,
            F.col(weight_col).cast("double").alias("w"),
            F.expr(_H_SPARK.format(col=id_col)).alias("h"),
        ).withColumn("q", F.expr(_Q_EXPR))
        prev_dir = _latest_committed_version(store_path, below=batch_id)
        if prev_dir is not None:
            pri = spark.read.parquet(prev_dir).unionByName(pri)
        # at-least-once sources can redeliver a row in a LATER batch;
        # a doubled sample member would bias every subset sum, so the
        # sample is keyed on the id (h derives from it — same dedup)
        kept = pri.dropDuplicates(["sample_id"]).orderBy(F.desc("q"), "h").limit(k + 1)
        kept = kept.persist()
        n_kept = kept.count()
        (
            kept.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .parquet(out_dir)
        )
        kept.unpersist()
        if on_batch is not None:
            on_batch(batch_id, n_kept)

    writer = stream_df.writeStream.foreachBatch(_merge).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def weighted_sample_estimates(
    spark: SparkSession, store_path: str, group_col: str, k: int = 512
) -> DataFrame:
    """Per-``group_col`` subset-sum estimate from the newest committed
    sample version: (grp, n_sample, est_total). tau is the (k+1)-th
    priority when the sample is full (0 otherwise — then the sample IS
    the stream and the estimate is exact); each of the k sampled rows
    contributes max(w, tau), fixed-pointed to cents before summing
    (x80's determinism convention). Input is <= k+1 rows — driver-cheap
    however long the stream ran."""
    from pyspark.sql import Window

    latest = _latest_committed_version(store_path)
    if latest is None:
        raise FileNotFoundError(f"no committed sample version under {store_path}")
    kept = spark.read.parquet(latest)
    w_all = Window.orderBy(F.desc("q"), "h")
    w_full = Window.partitionBy()
    ranked = (
        kept.withColumn("rn", F.row_number().over(w_all))
        .withColumn("n_kept", F.count("*").over(w_full))
        .withColumn("q_min", F.min("q").over(w_full))
    )
    tau = F.when(F.col("n_kept") == k + 1, F.col("q_min")).otherwise(F.lit(0.0))
    return (
        ranked.withColumn("tau", tau)
        .filter(F.col("rn") <= k)
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count("*").alias("n_sample"),
            (
                F.sum(
                    F.round(
                        F.greatest("w", F.col("tau")) * F.lit(100.0), 0
                    ).cast("bigint")
                ).cast("double")
                / F.lit(100.0)
            ).alias("est_total"),
        )
    )


# ---------------------------------------------------------------------------
# streaming token-frequency monitor — x81's count-min sketch merged
# cell-wise per micro-batch (the third streaming sketch face:
# distinct = KMV, sample = priority, frequency = CMS).
# ---------------------------------------------------------------------------


def run_freq_monitor(
    stream_df: DataFrame,
    store_path: str,
    text_col: str = "text",
    checkpoint: str | None = None,
    available_now: bool = True,
    on_batch: Callable[[int, int], Any] | None = None,
) -> StreamingQuery:
    """Corpus token frequencies at ingest as a micro-batch-merged
    count-min sketch: each batch's tokens are sketched into D*W cells
    (x81's build — the vocabulary long tail never shuffles, state is
    <= D*W counters FOREVER) and added cell-wise into the stored
    sketch — the mergeability x82 proves cross-engine, applied across
    micro-batches. Store is ``v<batch_id>``-versioned with _SUCCESS
    commit markers exactly like ``run_distinct_monitor``; replays skip
    committed versions. Read with ``freq_estimates``.

    Counting semantics: CMS counts delivered occurrences, so a row
    REDELIVERED in a later batch double-counts (unlike the KMV/sample
    monitors, whose state is keyed and self-deduplicating). Front an
    at-least-once source with ``dedup_stream`` when exactly-once
    counts matter."""
    import os

    from etl_spark.extensions.sketches import _TOKENS_SPARK_T, cms_cells
    from etl_spark.streaming.neardup import batch_committed

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        out_dir = os.path.join(store_path, f"v{batch_id}")
        if batch_committed(out_dir):
            return
        spark = batch_df.sparkSession
        tokens = batch_df.select(
            F.explode(
                F.expr(_TOKENS_SPARK_T.format(col=text_col))
            ).alias("token")
        )
        cells = cms_cells(tokens)
        prev_dir = _latest_committed_version(store_path, below=batch_id)
        if prev_dir is not None:
            cells = (
                spark.read.parquet(prev_dir)
                .unionByName(cells)
                .groupBy("d", "bucket")
                .agg(F.sum("cell_cnt").alias("cell_cnt"))
            )
        cells = cells.persist()
        n_cells = cells.count()
        (
            cells.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .parquet(out_dir)
        )
        cells.unpersist()
        if on_batch is not None:
            on_batch(batch_id, n_cells)

    writer = stream_df.writeStream.foreachBatch(_merge).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def freq_estimates(
    spark: SparkSession, store_path: str, tokens: tuple[str, ...]
) -> DataFrame:
    """Point-query the newest committed streamed sketch for a token
    list: (token, est_cnt), est >= true count always (CMS one-sided
    error). Driver-cheap: the sketch is <= D*W rows."""
    from etl_spark.extensions.sketches import cms_estimates

    latest = _latest_committed_version(store_path)
    if latest is None:
        raise FileNotFoundError(f"no committed sketch version under {store_path}")
    cells = spark.read.parquet(latest)
    vocab = spark.createDataFrame(
        [(t,) for t in sorted(set(tokens))], "token string"
    )
    return cms_estimates(cells, vocab)


def run_profile_monitor(
    stream_df: DataFrame,
    store_path: str,
    include: list[str] | None = None,
    rules: dict[str, str] | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
    on_batch: Callable[[int, int], Any] | None = None,
) -> StreamingQuery:
    """Corpus-to-date data-quality profile kept current at ingest —
    the streaming form of ``quality.profile`` (x87). Every batch's
    mergeable accumulators (counts + exact decimal sums + double
    min/max + rule violations, quality.profile_accumulators) merge
    into the stored state, so the FULL-corpus profile is readable
    after any batch without rescanning history, and byte-identically
    equals the one-shot profile of everything ingested (asserted in
    tests; ``distinct`` is the one non-mergeable metric — its
    streaming path is ``run_distinct_monitor``'s KMV sketch).

    Store layout: ``store_path/v<batch_id>`` parquet of
    (item, acc, dval, nval), each version a pure function of the
    previous committed version and the batch — same _SUCCESS /
    replay-skip discipline as the KMV and CMS monitors. Read with
    ``profile_snapshot``; alert by diffing snapshots with
    ``quality.profile_drift``."""
    import os

    from etl_spark.quality import merge_accumulators, profile_accumulators
    from etl_spark.streaming.neardup import batch_committed

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        out_dir = os.path.join(store_path, f"v{batch_id}")
        if batch_committed(out_dir):
            return
        spark = batch_df.sparkSession
        acc = profile_accumulators(batch_df, include, rules)
        prev_dir = _latest_committed_version(store_path, below=batch_id)
        if prev_dir is not None:
            acc = merge_accumulators(spark.read.parquet(prev_dir), acc)
        acc = acc.persist()
        n_rows = acc.count()
        (
            acc.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .parquet(out_dir)
        )
        acc.unpersist()
        if on_batch is not None:
            on_batch(batch_id, n_rows)

    writer = stream_df.writeStream.foreachBatch(_merge).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def profile_snapshot(spark: SparkSession, store_path: str) -> DataFrame:
    """Derive the (item, metric, value) profile from the newest
    committed streamed accumulator state."""
    from etl_spark.quality import profile_from_accumulators

    latest = _latest_committed_version(store_path)
    if latest is None:
        raise FileNotFoundError(f"no committed profile version under {store_path}")
    return profile_from_accumulators(spark.read.parquet(latest))


def run_cc_monitor(
    pairs_stream: DataFrame,
    store_path: str,
    checkpoint: str | None = None,
    available_now: bool = True,
    on_batch: Callable[[int, bool], Any] | None = None,
) -> StreamingQuery:
    """Duplicate-cluster labels kept current as near-dup PAIRS stream
    in — x29's connected components as ingestion-time maintenance
    (extensions/graph.py section note): each batch runs a fixpoint
    only over its own quotient graph and lands as a remap/newdocs
    delta; the stored base is never rewritten. Read current labels
    with ``graph.cc_index_labels``; fold deltas with
    ``graph.compact_cc_index``. Per-batch cost is bounded by the
    batch's edges plus a component-count remap — never a corpus
    rescan, the property re-running x29 per batch cannot offer.
    Replay-idempotent: a committed delta version is skipped, and a
    re-run delta is a pure function of the state below it."""
    from etl_spark.extensions.graph import cc_index_merge

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        wrote = cc_index_merge(batch_df.sparkSession, store_path, batch_df, batch_id)
        if on_batch is not None:
            on_batch(batch_id, wrote)

    writer = pairs_stream.writeStream.foreachBatch(_merge).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
