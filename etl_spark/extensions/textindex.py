"""Inverted token index — boolean corpus search as a data operator.

Beyond the reference's surface (the reference greps its job tables
with SQL LIKE, web_scheduler.py:2046-level filters); at 100 TB you
cannot scan the corpus per query. The retrieval-side answer is the
same one the ANN family (similarity.py) gives for vectors: build a
STORED index partitioned by a pruning key, and make every probe read
only the partitions its query can possibly touch.

- **Postings** are (token, doc_id, tf) rows — one per distinct
  (token, doc) pair, built with a single map-side-combining aggregate.
- **Stored layout**: postings written partitioned by
  ``bucket = h(token) % N_INDEX_BUCKETS``, so a probe for Q tokens
  statically prunes to <= Q of the N bucket directories
  (PartitionFilters at the file listing, the x72 IVF convention —
  similarity.py:1478).
- **Probe**: query tokens are a broadcast list; AND semantics is a
  per-doc distinct-token count equal to |Q| — the classic
  intersect-via-count plan, no self-join of posting lists.

The registered query (x83) runs the identical semantics in-plan so
the DuckDB oracle can check it; the stored build/probe pair is
asserted equal to the in-plan answer plus literally partition-pruned
in tests/test_textindex.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.extensions.sketches import _TOKENS_DUCK, _TOKENS_SPARK
from etl_spark.registry import register
from etl_spark.tables import load, scan_parquet

# fixed demo query for the registered/oracle-checked form: three
# mid-selectivity corpus tokens (AND of the three matches ~28% of
# docs on the fixtures — non-trivial both ways).
QUERY_TOKENS = ("agg", "stream", "window")

N_INDEX_BUCKETS = 8  # stored-index partition fan-out


def postings(docs: DataFrame) -> DataFrame:
    """(token, doc_id, tf) posting rows for a ``documents``-shaped
    DataFrame — one aggregate, partial-combined map-side."""
    toks = docs.select(
        "doc_id", F.explode(F.expr(_TOKENS_SPARK)).alias("token")
    )
    return toks.groupBy("token", "doc_id").agg(F.count("*").alias("tf"))


def boolean_search(post: DataFrame, tokens: tuple[str, ...], mode: str = "and") -> DataFrame:
    """Docs matching ``tokens`` over a postings DataFrame: (doc_id,
    n_terms, tf_total). ``and`` keeps docs containing every token,
    ``or`` any. The token list is broadcast; AND is the
    count-distinct-equals-|Q| plan (postings are already distinct per
    (token, doc), so a plain count suffices — no posting-list
    self-join)."""
    if mode not in ("and", "or"):
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
    spark = post.sparkSession
    q = spark.createDataFrame([(t,) for t in sorted(set(tokens))], "token string")
    hits = post.join(F.broadcast(q), "token")
    agg = hits.groupBy("doc_id").agg(
        F.count("*").alias("n_terms"),
        F.sum("tf").alias("tf_total"),
    )
    if mode == "and":
        agg = agg.filter(F.col("n_terms") == len(set(tokens)))
    return agg


@register(
    "x83_boolean_token_search",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS_DUCK}) AS token FROM documents
        ),
        hits AS (
            SELECT doc_id, token, count(*) AS tf
            FROM toks
            WHERE token IN ('agg', 'stream', 'window')
            GROUP BY doc_id, token
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(SUM(tf) AS BIGINT) AS tf_total
        FROM hits
        GROUP BY doc_id
        HAVING count(*) = 3
    """,
    tags=("text", "index"),
)
def x83_boolean_token_search(spark: SparkSession, sf: str) -> DataFrame:
    """AND-of-three boolean search over the corpus: doc_ids containing
    all of QUERY_TOKENS, with the matched-term count and the total
    term frequency (the ranking signal a retrieval layer sorts by).

    This registered form computes the postings in-plan so DuckDB can
    replay it; the deployment form is ``build_token_index`` +
    ``token_index_probe``, where the postings are STORED partitioned
    by token-hash bucket and a probe reads <= |Q| of N_INDEX_BUCKETS
    partition directories (statically pruned — asserted on the real
    file-scan plan in tests). Either way the query-token list is
    broadcast and the only shuffle past the postings aggregate is the
    per-doc count — the corpus text itself is never re-scanned per
    query in the stored form.
    """
    return boolean_search(postings(load(spark, sf, "documents")), QUERY_TOKENS)


# ---------------------------------------------------------------------------
# stored-index build / probe (the deployment path)
# ---------------------------------------------------------------------------


def token_bucket(token: str) -> int:
    """Driver-side twin of the in-plan bucket derivation: first 15 hex
    chars of md5(token) as an int, mod N_INDEX_BUCKETS — identical to
    sketches._H_SPARK's chain because the value is < 2^60 and
    nonnegative."""
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:15], 16) % N_INDEX_BUCKETS


def build_token_index(docs: DataFrame, path: str) -> None:
    """Materialize the inverted index at ``path``, partitioned by the
    token-hash bucket (the pruning key). Static overwrite so the
    commit is atomic-per-build and carries _SUCCESS (the
    dynamic-overwrite marker trap — see sources/txlog.py note)."""
    post = postings(docs).withColumn(
        "bucket",
        F.pmod(
            F.expr(
                "CAST(conv(substring(md5(CAST(token AS STRING)), 1, 15), 16, 10) AS BIGINT)"
            ),
            F.lit(N_INDEX_BUCKETS),
        ),
    )
    (
        post.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("bucket")
        .parquet(path)
    )


def token_index_probe(
    spark: SparkSession, path: str, tokens: tuple[str, ...], mode: str = "and"
) -> DataFrame:
    """Probe the stored index: compute the query tokens' buckets
    driver-side, filter on the PARTITION column first (static pruning
    — only those bucket directories are listed/read), then on the
    token within. Semantics identical to ``boolean_search`` over the
    full postings."""
    buckets = sorted({token_bucket(t) for t in tokens})
    idx = (
        scan_parquet(spark, path)
        .filter(F.col("bucket").isin(buckets))
        .select("token", "doc_id", "tf")
    )
    return boolean_search(idx, tokens, mode=mode)


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — the ranking layer over the boolean index
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def _duck_bm25() -> str:
    k1, b, topk = BM25_K1, BM25_B, BM25_TOP_K
    terms = QUERY_TOKENS
    in_list = ", ".join(f"'{t}'" for t in terms)
    # fixed-order per-term addition (one posting row per (doc, term),
    # so each CASE-sum aggregates <= 1 non-null value — no float
    # summation-order hazard; the final + chain is a fixed expression
    # tree both engines evaluate identically)
    score_sum = " + ".join(
        f"COALESCE(SUM(CASE WHEN token = '{t}' THEN s END), 0.0)"
        for t in terms
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS_DUCK}) AS token FROM documents
        ),
        dl AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
            FROM toks GROUP BY doc_id
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
            FROM dl
        ),
        post AS (
            SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE token IN ({in_list})
            GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS df
            FROM post GROUP BY token
        ),
        scored AS (
            SELECT p.doc_id, p.token,
                   ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * (p.tf * ({k1} + 1.0))
                   / (p.tf + {k1} * (1.0 - {b} + {b} * d.dl / s.avgdl))
                     AS s
            FROM post p
            JOIN df f USING (token)
            JOIN dl d USING (doc_id)
            CROSS JOIN stats s
        ),
        agg AS (
            SELECT doc_id, ROUND({score_sum}, 6) AS score
            FROM scored GROUP BY doc_id
        ),
        ranked AS (
            SELECT doc_id, score,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
            FROM agg
        )
        SELECT doc_id, score, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= {topk}
    """


@register(
    "x106_bm25_search",
    oracle=_duck_bm25(),
    tags=("text", "index"),
)
def x106_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Sparck Jones Okapi weighting)
    over the token index — the ranking layer x83's boolean AND lacks:
    OR semantics over QUERY_TOKENS, per-(doc, term) Okapi score
    idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)), per-doc total as a
    FIXED-ORDER sum of the per-term components (each term pivots to
    its own conditional aggregate of <= 1 row, then a fixed + chain —
    no float-summation-order divergence), ranked on the ROUNDED score
    with doc_id tie-break, top-{K}. ln() cross-engine parity has the
    x18/x62 precedent.

    Scale: postings and doc lengths are one aggregate each (the
    stored-index form would read <= |Q| partition buckets — x83's
    layout); the df table is |Q| rows broadcast; the scored frame is
    query-hit-sized; the global top-K is TakeOrdered over a
    hit-sized frame."""
    docs = load(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(_TOKENS_SPARK)).alias("token")
    )
    # dl feeds two branches (the avgdl scalar + the score join) and
    # Catalyst does not CSE reused DataFrames (the x92 lesson);
    # persisting the doc-sized length table avoids re-running its
    # token explode. The token stream itself is deliberately NOT
    # persisted (the x79 tradeoff — re-scanning beats materializing
    # the exploded stream at scale).
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl")).persist()
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    q = sorted(set(QUERY_TOKENS))
    post = (
        toks.filter(F.col("token").isin(list(q)))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    return bm25_search(post, dl, stats)


def bm25_search(
    post: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    tokens: tuple[str, ...] = QUERY_TOKENS,
    top_k: int = BM25_TOP_K,
) -> DataFrame:
    """The BM25 scorer shared by the in-plan x106 and the stored-index
    probe: ``post`` = (doc_id, token, tf) already restricted to (or a
    superset filterable to) the query tokens, ``dl`` = (doc_id, dl),
    ``stats`` = 1-row (n_docs, avgdl). See x106's docstring for the
    determinism rules."""
    post = post.filter(F.col("token").isin(list(sorted(set(tokens)))))
    df = post.groupBy("token").agg(F.count("*").alias("df"))
    k1, b = BM25_K1, BM25_B
    s = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        post.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "token", s.alias("s"))
    )
    score_sum = None
    for t in tokens:
        term = F.coalesce(
            F.sum(F.when(F.col("token") == t, F.col("s"))), F.lit(0.0)
        )
        score_sum = term if score_sum is None else score_sum + term
    agg = scored.groupBy("doc_id").agg(F.round(score_sum, 6).alias("score"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= top_k)
    )


def build_bm25_index(docs: DataFrame, path: str) -> None:
    """Materialize the ranked-retrieval artifact: the bucket-
    partitioned postings (``path``/postings — build_token_index's
    layout, so probes prune to <= |Q| bucket dirs), the per-doc
    length sidecar (``path``/doclen) and the 1-row corpus stats
    (``path``/stats). The sidecars are what lets a probe score
    WITHOUT re-scanning the corpus: BM25's only corpus-global inputs
    are dl, n_docs and avgdl."""
    build_token_index(docs, f"{path}/postings")
    toks = docs.select(
        "doc_id", F.explode(F.expr(_TOKENS_SPARK)).alias("token")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl")).persist()
    dl.write.mode("overwrite").parquet(f"{path}/doclen")
    (
        dl.agg(
            F.count("*").alias("n_docs"),
            (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        )
        .write.mode("overwrite")
        .parquet(f"{path}/stats")
    )
    dl.unpersist()


def bm25_index_probe(
    spark: SparkSession,
    path: str,
    tokens: tuple[str, ...] = QUERY_TOKENS,
    top_k: int = BM25_TOP_K,
) -> DataFrame:
    """Ranked probe of the stored BM25 index: postings read from ONLY
    the query tokens' hash buckets (static partition pruning — the
    token_index_probe convention), doclen/stats from the sidecars,
    then the shared scorer. Result-identical to the in-plan x106 on
    the same corpus (asserted in tests/test_textindex.py)."""
    buckets = sorted({token_bucket(t) for t in tokens})
    post = (
        scan_parquet(spark, f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .select("token", "doc_id", "tf")
    )
    dl = scan_parquet(spark, f"{path}/doclen")
    stats = scan_parquet(spark, f"{path}/stats")
    return bm25_search(post, dl, stats, tokens=tokens, top_k=top_k)
