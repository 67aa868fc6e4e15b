"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the local[N] test harness but documented for a
1000-executor cluster: AQE owns runtime re-planning (partition
coalescing, skew-join splitting), shuffle partitions default to a
multiple of parallelism, and Arrow is on for every pandas boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Session-wide defaults. Rationale per key:
#  - adaptive.*: AQE re-plans at runtime (coalesces small shuffle
#    partitions, converts to broadcast join when a side turns out
#    small, splits skewed partitions). At 100 TB this is the main
#    defense against static misestimates.
#  - shuffle.partitions: local default; on a real cluster set to
#    2-3x total executor cores (the orchestrator exposes it).
#  - session.timeZone=UTC: the reference stores naive "UTC+8" strings
#    (web_scheduler.py:722-733); we normalize to UTC and convert at
#    the edges so timestamp semantics are unambiguous.
#  - arrow enabled: every toPandas()/applyInPandas boundary is
#    Arrow-batched, never row-at-a-time pickling.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
}


def get_spark(
    app_name: str = "etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster leave it unset and let spark-submit supply it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# The engine writes session confs in exactly two places, both below.
# Queries, alerts and the scheduler share one SparkSession, so a conf
# an engine call sets on it changes every query that runs beside it.
# Partitioning therefore lives in the plans (explicit counts, hints);
# a conf is written only when it must hold at analysis time
# (``pin_confs``) or for work confined to a child session
# (``child_session``).


def pin_confs(spark: SparkSession, confs: dict[str, str]) -> None:
    """Set ``confs`` on ``spark`` and leave them set.

    Only for confs that Catalyst resolves at ANALYSIS time and that
    must therefore still hold when the caller later collects a lazy
    frame: the session timeZone and ANSI mode (the registry pins the
    values every query is tested under) and
    ``spark.sql.legacy.parquet.nanosAsLong`` (the events readers'
    int64-nanos scan). Values are idempotent per key, so concurrent
    callers pinning the same value cannot disturb each other."""
    for k, v in confs.items():
        # a host session that rejects a key degrades to unpinned
        # behaviour for that key rather than failing the caller
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - host-specific
            pass


def child_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A ``spark.newSession()`` carrying the caller's runtime SQL
    confs and current database, with ``confs`` on top.

    The child shares the SparkContext, the cache and the catalog, so
    persisted frames, checkpoints and tables are visible both ways;
    only its conf and temp-view namespace are its own. Work that needs
    a conf the caller must not see (AQE off in the CC fixpoint,
    dynamic partition overwrite for ``insertInto``) runs on the child,
    and the caller's session is never written."""
    child = spark.newSession()
    inherited = {
        k: v for k, v in spark.conf.getAll.items() if spark.conf.isModifiable(k)
    }
    for k, v in {**inherited, **confs}.items():
        child.conf.set(k, v)
    child.catalog.setCurrentDatabase(spark.catalog.currentDatabase())
    return child


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``session``: it is then
    optimized, planned and executed under ``session``'s confs. Cached
    and checkpointed subtrees stay shared, since the cache is."""
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, session)
