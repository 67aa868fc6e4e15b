"""The benchmark's three workloads.

Every workload is single-client and closed-loop: the next op starts
only after the previous one has completed and its output has been
checked. Ops are grouped into rounds, and a run times a fixed number
of whole rounds: the requested seconds divided by the workload's
nominal round length (``ROUND_S`` in ``run.py``, its op time on 4 cores),
rounded, and at least one. The count never depends on how fast the
rounds run, so two builds of the engine always time the same ops. The
timed window counts op time only; output checks run between ops,
outside it.

- ``etl_tick``: one op is one ``Orchestrator.tick`` on a simulated
  clock that advances one minute per tick; a round is one 5-minute
  cycle of the reference pipeline, after one untimed warm-up cycle.
- ``adhoc_mix`` and ``curation_iterative``: one op is one registered
  query's build plus ``collect()``; a round is the mix's timed set
  (``mixes.TIMED``), after a fixed untimed warm-up. Every run times
  the same queries in the same order, so that runs with different
  seeds measure the same work; these workloads have no generated
  inputs, and the seed does not change them.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from mixes import MIXES, TIMED, WARMUP
from oracle import digest, load_expected
from shopify import CSV_SCHEMA, TABLE_SCHEMA, first_order_number, write_batch

STAGING = "erp_system.dwd_sale_shopify_order_di"
DWD = "erp_system.dwd_sale_shopify_orders_di"
META_DB = "etl_meta"

# stored SQL script 30: the DWD full refresh
SCRIPT_30 = f"TRUNCATE TABLE {DWD}; INSERT INTO {DWD} SELECT * FROM {STAGING};"
# stored SQL script 33: the aliased monitoring projection of alerts 2 and 3
SCRIPT_33 = (
    "SELECT order_number AS `订单号`, source_name AS `店铺`, sku, `date` AS `日期`, "
    f"created_at AS `创建日期`, total_price `总价格` FROM {STAGING}"
)

INGEST, TRANSFORM, ALERTS = 26, 25, (2, 3)
HEAD_OUTCOMES = {INGEST: "success", TRANSFORM: "success", **{a: "success" for a in ALERTS}}
MINUTE_OUTCOMES = {TRANSFORM: "success"}


@dataclass
class Op:
    wall_s: float
    ok: bool
    detail: str = ""
    rows_loaded: int = 0
    # the id its trace record carries; -1 for an op that never ran
    op_id: int = -1


@dataclass
class Context:
    """What set-up hands to a workload."""

    spark: object
    specs: dict
    orchestrator: object
    alert_engine: object
    run_dir: str
    sf_dir: str
    warehouse: str


def setup(run_dir: str, sf_dir: str, warehouse: str, extra_conf: dict[str, str]) -> Context:
    """Start the session, load the query registry and create the
    metadata and staging tables: everything before the first op."""
    from etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={"spark.sql.warehouse.dir": warehouse, **extra_conf},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from etl_spark.alerting import AlertEngine
    from etl_spark.orchestrator import Orchestrator
    from etl_spark.registry import all_specs

    specs = all_specs()
    orch = Orchestrator(spark, db=META_DB)
    engine = AlertEngine(spark, db=META_DB)
    spark.sql("CREATE DATABASE IF NOT EXISTS erp_system")
    for table in (STAGING, DWD):
        spark.sql(f"CREATE TABLE IF NOT EXISTS {table} ({TABLE_SCHEMA}) USING parquet")
    return Context(spark, specs, orch, engine, run_dir, sf_dir, warehouse)


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    # ops run before the window: checked, but not timed
    warmup_ops: list[Op] = field(default_factory=list)

    @property
    def elapsed(self) -> float:
        return sum(op.wall_s for op in self.ops)


class EtlTick:
    def __init__(self, ctx: Context, seed: int, tracer):
        self.ctx = ctx
        self.tracer = tracer
        self.seed = seed
        # landing batch i, as (path, rows), feeds cycle i
        self.batches: list[tuple[str, int]] = []
        self.cycle = 0
        self.alert_results: dict[int, object] = {}
        self.t0 = datetime(2025, 11, 18, 12, 0)
        self._register()

    def _register(self) -> None:
        from etl_spark.orchestrator import TaskSpec

        orch = self.ctx.orchestrator
        registered_at = self.t0 - timedelta(minutes=1)
        orch.register(TaskSpec(INGEST, "excel_to_db", self._ingest, cron="*/5 * * * *"), registered_at)
        orch.register(
            TaskSpec(TRANSFORM, "dwd_refresh", self._transform, cron="*/1 * * * *", dependencies=[INGEST]),
            registered_at,
        )
        for alert_id in ALERTS:
            orch.register(
                TaskSpec(
                    alert_id,
                    f"alert_{alert_id}",
                    lambda spark, a=alert_id: self._alert(a),
                    cron="*/5 * * * *",
                    dependencies=[TRANSFORM],
                ),
                registered_at,
            )

    # -- the pipeline's task callables ----------------------------------

    def _ingest(self, spark) -> None:
        from pyspark.sql import functions as F

        from etl_spark.sources import read_landing, truncate_load

        path, _ = self.batches[self.cycle]
        with self.tracer.span("sources"):
            df = read_landing(spark, path, fmt="csv", schema=CSV_SCHEMA)
            etl_time = self.t0 + timedelta(minutes=5 * self.cycle)
            truncate_load(df.withColumn("etl_time", F.lit(etl_time)), STAGING)

    def _transform(self, spark) -> None:
        from etl_spark.sql_runner import run_script

        with self.tracer.span("sql_runner"):
            results = run_script(spark, SCRIPT_30)
        for r in results:
            if r.df is not None:
                self.tracer.catalyst(r.df)
        errors = [r.error for r in results if not r.ok]
        if errors:
            raise RuntimeError(f"script 30 failed: {errors}")

    def _alert(self, alert_id: int) -> None:
        from etl_spark.alerting import AlertSpec

        export = os.path.join(self.ctx.run_dir, "exports", f"alert{alert_id}_c{self.cycle}.xlsx")
        os.makedirs(os.path.dirname(export), exist_ok=True)
        spec = AlertSpec(
            alert_id, f"shopify orders {alert_id}", SCRIPT_33,
            condition="rows_gt", threshold=1, export_path=export,
        )
        with self.tracer.span("alerting"):
            res = self.ctx.alert_engine.check(spec, now=self.t0 + timedelta(minutes=5 * self.cycle))
        self.alert_results[alert_id] = res
        if res.error:
            raise RuntimeError(res.error)
        if res.export_path and os.path.exists(res.export_path):
            self.tracer.count("alerting.export_bytes", os.path.getsize(res.export_path))

    # -- the run -------------------------------------------------------

    def _log_files(self) -> int:
        d = os.path.join(self.ctx.warehouse, f"{META_DB}.db", "task_logs")
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet")) if os.path.isdir(d) else 0

    def _tick(self, minute: int) -> Op:
        """One tick, at ``minute`` of the simulated clock; the minute is
        also the op's id."""
        now = self.t0 + timedelta(minutes=minute)
        self.alert_results = {}
        files_before = self._log_files() if self.tracer.enabled else 0
        t = time.perf_counter()
        with self.tracer.op(minute, "orchestrator") as rec:
            outcomes = self.ctx.orchestrator.tick(now)
        wall = time.perf_counter() - t
        if rec is not None:
            rec.counts["orchestrator.log_files"] = self._log_files() - files_before
        head = minute % 5 == 0
        if self.cycle == 0:  # warm-up: dependencies have no history yet
            return Op(wall, True, op_id=minute)
        problems = []
        expected = HEAD_OUTCOMES if head else MINUTE_OUTCOMES
        if outcomes != expected:
            problems.append(f"outcomes {outcomes} != {expected}")
        from pyspark.sql import functions as F

        n = self.batches[self.cycle][1]
        first = first_order_number(self.cycle)
        for table in (STAGING, DWD):
            got_n, got_first = self.ctx.spark.table(table).agg(
                F.count("*"), F.min("order_number")
            ).first()
            if (got_n, got_first) != (n, first):
                problems.append(
                    f"{table} has {got_n} rows from order {got_first}, "
                    f"batch {self.cycle} has {n} from order {first}"
                )
        if head:
            for a in ALERTS:
                r = self.alert_results.get(a)
                if r is None or not r.triggered or r.n_rows != n:
                    problems.append(f"alert {a}: {r}")
                elif not (r.export_path and os.path.getsize(r.export_path) > 0):
                    problems.append(f"alert {a}: no export at {r.export_path}")
                else:
                    os.remove(r.export_path)
        return Op(wall, not problems, "; ".join(problems), rows_loaded=n if head else 0, op_id=minute)

    def run(self, rounds: int, hard_deadline: float, on_window_start) -> Result:
        """One untimed warm-up cycle, then ``rounds`` timed cycles, each
        loading its own batch; all batches are written first."""
        landing = os.path.join(self.ctx.run_dir, "landing")
        self.batches = [write_batch(self.seed, i, landing) for i in range(rounds + 1)]
        res = Result()
        for cycle in range(rounds + 1):
            self.cycle = cycle
            if cycle == 1:
                on_window_start()
            ops = [self._tick(5 * cycle + k) for k in range(5)]
            if cycle > 0:
                res.ops.extend(ops)
                if time.time() >= hard_deadline:
                    break
        return res


class QueryMix:
    """A round is the mix's timed set (``mixes.TIMED``) in its listed
    order, after the untimed warm-up set (``mixes.WARMUP``). Every op's
    result is checked against its stored digest."""

    def __init__(self, ctx: Context, workload: str, tracer):
        self.ctx = ctx
        self.tracer = tracer
        self.expected = load_expected()
        self.mix = MIXES[workload]
        self.timed = TIMED[workload]
        self.warmup = WARMUP[workload]
        self.op_id = 0

    def _query(self, name: str) -> Op:
        spec = self.ctx.specs.get(name)
        if spec is None:
            return Op(0.0, False, f"{name}: not in the registry")
        spark, tr = self.ctx.spark, self.tracer
        self.op_id += 1
        t = time.perf_counter()
        try:
            with tr.op(self.op_id, "query"):
                with tr.span("registry"):
                    df = spec.fn(spark, self.ctx.sf_dir)
                with tr.span("spark.collect"):
                    rows = df.collect()
                    wall = time.perf_counter() - t
                tr.catalyst(df)
        except Exception as ex:  # noqa: BLE001 - a failing query is a failed op
            return Op(
                time.perf_counter() - t, False, f"{name}: {type(ex).__name__}: {ex}"[:300], op_id=self.op_id
            )
        want = self.expected.get(name, {}).get("digest")
        if want is None:
            return Op(wall, False, f"{name}: no expected digest", op_id=self.op_id)
        ok = digest([tuple(r) for r in rows], df.columns) == want
        return Op(wall, ok, "" if ok else f"{name}: result digest differs", op_id=self.op_id)

    def run(self, rounds: int, hard_deadline: float, on_window_start) -> Result:
        res = Result()
        # a demoted or renamed query of the frozen mix fails every run,
        # not only the runs that would execute it
        res.warmup_ops += [
            Op(0.0, False, f"{n}: not in the registry")
            for n in self.mix if n not in self.ctx.specs
        ]
        res.warmup_ops += [self._query(n) for n in self.warmup if n in self.ctx.specs]
        on_window_start()
        for _ in range(rounds):
            # builders leave frames persisted; a repeated query would
            # read them back, so every round starts from an empty cache
            self.ctx.spark.catalog.clearCache()
            for name in self.timed:
                if time.time() >= hard_deadline:
                    return res
                if name in self.ctx.specs:
                    res.ops.append(self._query(name))
        return res
