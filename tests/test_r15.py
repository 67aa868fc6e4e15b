"""Round-15 additions: the decon replay hook's n_in comes from a
persisted batch manifest rather than a kept+flagged row-count
derivation — the derivation undercounts when a flagged id spans
multiple input rows, because flagged is one row per id while the
anti-join drops every row of the id (ADVICE r14 #3).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq


def test_decon_replay_n_in_exact_with_multirow_flagged_id(spark, tmp_path):
    """A flagged id appearing on THREE input rows: the original
    delivery reports n_in=5 (3 dup rows + 2 clean). The manifest
    makes the checkpoint-loss replay report the same 5 — the old
    kept+flagged derivation would say 3 (2 kept rows + 1 flagged
    row-per-id) and undercount the monitor's sum."""
    from etl_spark.streaming.neardup import build_decon_index, run_decon_ingest

    dim = 64  # the banding planes are sized for the fixture dim

    def unit(i):
        v = [0.0] * dim
        v[i] = 1.0
        return v

    hot = unit(0)  # matches the eval index exactly
    clean_a = unit(17)
    clean_b = unit(33)
    build_decon_index(
        spark.createDataFrame(
            [(100, hot)], "vec_id bigint, embedding array<double>"
        ),
        str(tmp_path / "eval_idx"),
    )
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([7, 7, 7, 8, 9], pa.int64()),
                "embedding": [hot, hot, hot, clean_a, clean_b],
            }
        ),
        str(src / "b0.parquet"),
    )

    def run(tag, sink):
        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = run_decon_ingest(
            stream,
            id_col="vec_id",
            emb_col="embedding",
            index_path=str(tmp_path / "eval_idx"),
            out_path=str(tmp_path / "clean"),
            flagged_path=str(tmp_path / "flagged"),
            checkpoint=str(tmp_path / f"ckpt_{tag}"),
            cos_floor=0.99,
            on_batch=lambda b, n_in, n_fl: sink.append((b, n_in, n_fl)),
        )
        q.awaitTermination(120)

    first: list[tuple[int, int, int]] = []
    run("first", first)
    assert first == [(0, 5, 1)], first
    # all three rows of the flagged id were dropped from the output
    assert spark.read.parquet(str(tmp_path / "clean" / "batch-0")).count() == 2

    # fresh checkpoint => committed batch skipped; the manifest keeps
    # n_in exact where kept(2) + flagged(1) would report 3
    replay: list[tuple[int, int, int]] = []
    run("replay", replay)
    assert replay == first, replay


def test_x141_layout_actually_skips_files(spark, sf_dir):
    """The x141 oracle proves pruned == full; this asserts the layout
    earns its keep — both probes rule out a real fraction of the
    16-file z-ordered layout (if every file is kept the identity is
    vacuously true and the index is dead weight)."""
    from pyspark.sql import functions as F

    from etl_spark.sources.bloomindex import bloom_pruned_files
    from etl_spark.sources.skipquery import (
        PRICE_HI,
        PRICE_LO,
        ensure_skip_layout,
    )
    from etl_spark.sources.zonemap import pruned_files
    from etl_spark.tables import load

    table, bloom, zmap = ensure_skip_layout(spark, sf_dir)
    ck = int(load(spark, sf_dir, "orders").agg(F.min("o_custkey")).first()[0])
    kept_b, total_b = bloom_pruned_files(spark, bloom, "o_custkey", ck)
    kept_z, total_z = pruned_files(
        spark, zmap, "o_totalprice", PRICE_LO, PRICE_HI
    )
    assert total_b == total_z == 16
    assert len(kept_b) <= total_b // 2, (len(kept_b), total_b)
    assert len(kept_z) <= total_z // 2, (len(kept_z), total_z)


def test_skip_layout_rebuild_keeps_held_layout_readable(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A reader holding the live skip layout keeps reading it while a
    rebuild runs and after the new generation is swapped in: the
    rebuild goes into a fresh directory, never over the live one."""
    import shutil
    import tempfile

    from etl_spark.sources import skipquery

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{sf_dir}/orders.parquet", sf / "orders.parquet")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    table, _, _ = skipquery.ensure_skip_layout(spark, str(sf))
    held = spark.read.parquet(table)
    n = held.count()
    # a marker from an older layout format forces the rebuild
    root = skipquery._layout_root(str(sf))
    with open(f"{root}/_LAYOUT_OK", "w") as fh:
        fh.write('"ok"')

    mid_build: list[int] = []
    write_zordered = skipquery.write_zordered

    def build(*args, **kwargs):
        mid_build.append(held.count())
        return write_zordered(*args, **kwargs)

    monkeypatch.setattr(skipquery, "write_zordered", build)
    new_table, _, _ = skipquery.ensure_skip_layout(spark, str(sf))
    assert mid_build == [n]
    assert held.count() == n
    assert spark.read.parquet(new_table).count() == n
    assert skipquery.ensure_skip_layout(spark, str(sf))[0] == new_table


def test_x143_backlog_counts_exactly_the_open_orders(spark, sf_dir):
    """Partition check: the aging buckets sum to exactly the O/P
    order count, every bucket is nonnegative, and finalized orders
    contribute nothing."""
    from pyspark.sql import functions as F

    from etl_spark.registry import all_specs
    from etl_spark.tables import load

    rows = all_specs()["x143_backlog_aging"].fn(spark, sf_dir).collect()
    n_open = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("O", "P"))
        .count()
    )
    assert sum(r.n_orders for r in rows) == n_open
    assert all(r.age_bucket_30d >= 0 for r in rows)
    assert all(r.backlog_cents > 0 for r in rows)


def test_x144_matches_naive_type1_percentile(spark, sf_dir):
    """The histogram inverted-CDF percentile must equal the naive
    type-1 definition computed from raw per-supplier lead-day lists
    (the x126 consistency check, keyed by supplier)."""
    import math

    from pyspark.sql import functions as F

    from etl_spark.registry import all_specs
    from etl_spark.tables import load

    got = {
        r.s_name: (r.n_lines, r.p50_days, r.p90_days, r.max_days)
        for r in all_specs()["x144_supplier_leadtime"].fn(spark, sf_dir).collect()
    }
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_name",
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("d"),
        )
        .collect()
    )
    by_sup: dict = {}
    for r in raw:
        by_sup.setdefault(r.s_name, []).append(r.d)

    def type1(vals, p):
        vals = sorted(vals)
        need = p * len(vals)
        return vals[math.ceil(need) - 1 if need == int(need) else int(need)]

    assert set(got) == set(by_sup)
    for name, vals in by_sup.items():
        n, p50, p90, mx = got[name]
        assert n == len(vals)
        assert p50 == type1(vals, 0.5), name
        assert p90 == type1(vals, 0.9), name
        assert mx == max(vals)


def test_x142_turns_recompute_one_brand(spark, sf_dir):
    """Spot-recompute one (brand, yr) cell from the raw tables —
    revenue cents, catalog value, and the DECIMAL ppm division."""
    from pyspark.sql import functions as F

    from etl_spark.registry import all_specs
    from etl_spark.tables import load

    rows = all_specs()["x142_inventory_turns"].fn(spark, sf_dir).collect()
    pick = sorted(rows, key=lambda r: (r.brand, r.yr))[0]
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(
            (F.col("p_brand") == pick.brand)
            & (F.year("l_shipdate") == pick.yr)
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * (1 - l_discount)"
                    " * 100 + 0.5) AS BIGINT)"
                )
            )
        )
        .first()[0]
    )
    inv = (
        part.filter(F.col("p_brand") == pick.brand)
        .agg(
            F.sum(F.expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)")),
            F.count(F.lit(1)),
        )
        .first()
    )
    assert pick.revenue_cents == rev
    assert pick.inventory_cents == inv[0]
    assert pick.n_parts == inv[1]
    assert pick.turns_ppm == (1_000_000 * rev) // inv[0]
