"""Engine calls never change the caller's session confs.

Queries, alerts and the scheduler share one SparkSession, so a conf an
engine call writes on it silently changes every query running beside
it. The registry pins only the session timezone and ANSI mode;
partitioning lives in the plans, and the CC fixpoint runs its
AQE-off loop on a child session (``session.child_session``).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

from etl_spark.extensions import dedup
from etl_spark.registry import all_specs

WATCHED = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.sql.sources.partitionOverwriteMode",
)


def _confs(spark) -> dict[str, str | None]:
    return {k: spark.conf.get(k, None) for k in WATCHED}


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def test_concurrent_queries_leave_session_confs_alone(spark, sf_dir):
    """Thread A collects x29 (the CC fixpoint) while thread B keeps
    reading the watched confs on the same session and runs q01 and
    x76. Every read sees the value from before the test, and both
    threads' results equal serial runs."""
    specs = all_specs()
    names = ("q01_pricing_summary", "x76_kmv_distinct_customers")
    before = _confs(spark)
    serial = {
        n: _rows(specs[n].fn(spark, sf_dir))
        for n in ("x29_dup_clusters",) + names
    }
    assert _confs(spark) == before

    reads: list[dict[str, str | None]] = []
    got: dict[str, list] = {n: [] for n in serial}
    errors: list[BaseException] = []
    a_done = threading.Event()

    def thread_a():
        try:
            got["x29_dup_clusters"].append(
                _rows(specs["x29_dup_clusters"].fn(spark, sf_dir))
            )
        except BaseException as e:  # surfaced by the main thread
            errors.append(e)
        finally:
            a_done.set()

    def thread_b():
        try:
            while True:
                for n in names:
                    reads.append(_confs(spark))
                    got[n].append(_rows(specs[n].fn(spark, sf_dir)))
                    reads.append(_confs(spark))
                if a_done.is_set():
                    break
                for _ in range(50):
                    reads.append(_confs(spark))
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=thread_a), threading.Thread(target=thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert reads and all(r == before for r in reads), [
        r for r in reads if r != before
    ][:3]
    assert _confs(spark) == before
    for n, runs in got.items():
        assert runs and all(r == serial[n] for r in runs), n


def _nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def test_cc_round_plan_has_one_exchange_above_the_join(spark, monkeypatch):
    """A CC round's executed plan: the co-partitioned join needs no
    Exchange on either side (edges cached hash-partitioned by dst, the
    labels checkpoint hash-partitioned by doc_id), and the round's MIN
    aggregate adds exactly one Exchange above it. The partition target
    is shrunk so the loop runs on several partitions: at one partition
    no round needs an Exchange at all."""
    monkeypatch.setattr(dedup, "_CC_TARGET_PART_BYTES", 512)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)] + [(50, 51)], ["doc_a", "doc_b"]
    )
    rounds: list[DataFrame] = []
    checkpoint = type(pairs).localCheckpoint

    def record(self, *args, **kwargs):
        rounds.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(pairs), "localCheckpoint", record)
    labels = {
        r.doc_id: r.lbl for r in dedup.connected_components(pairs).collect()
    }
    assert labels == {i: 0 for i in range(11)} | {50: 50, 51: 50}
    assert len(rounds) >= 2  # the initial aggregate, then join rounds
    plan = rounds[1]._jdf.queryExecution().executedPlan()
    assert plan.outputPartitioning().numPartitions() > 1
    exchanges = [n for n in _nodes(plan) if n.nodeName() == "Exchange"]
    assert len(exchanges) == 1, plan.toString()
    joins = [n for n in _nodes(exchanges[0]) if "Join" in n.nodeName()]
    assert len(joins) == 1, plan.toString()
    sides = [joins[0].children().apply(i) for i in range(2)]
    label_side = [
        s for s in sides if any("ExistingRDD" in n.nodeName() for n in _nodes(s))
    ]
    assert len(label_side) == 1, plan.toString()
    for side in sides:
        assert not any(n.nodeName() == "Exchange" for n in _nodes(side))
