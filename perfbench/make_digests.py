"""Compute the expected result digests of both query mixes from DuckDB.

Run once from the repository root, after the bundled tables or a
query's oracle SQL change:

    python3 perfbench/make_digests.py [--only NAME ...] [--timeout S]

Each mix query's oracle SQL runs in DuckDB over the sf0.1 parquet
tables in ``perfbench/data/sf0.1``; the digest of its normalised
result (see ``oracle.py``) is merged into ``perfbench/digests.json``.
A query whose oracle runs past ``--timeout`` seconds is reported and
keeps any digest it already had.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

from mixes import MIXES  # noqa: E402
from oracle import DIGESTS_PATH, digest  # noqa: E402

DATA_DIR = os.path.join(HERE, "data", "sf0.1")


def _run_oracle(sql: str, timeout_s: float):
    from etl_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
    out: dict = {}

    def work():
        try:
            rel = con.sql(sql)
            out["cols"] = list(rel.columns)
            out["rows"] = rel.fetchall()
        except duckdb.Error as ex:
            out["error"] = str(ex)

    th = threading.Thread(target=work, daemon=True)
    th.start()
    th.join(timeout_s)
    if th.is_alive():
        con.interrupt()
        th.join()
        out = {"error": f"timeout after {timeout_s:.0f} s"}
    con.close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--only", nargs="*", help="query names to (re)compute")
    ap.add_argument("--timeout", type=float, default=45.0)
    args = ap.parse_args()

    from etl_spark.registry import all_specs

    specs = all_specs()
    names = [n for mix in MIXES.values() for n in mix]
    if args.only:
        names = [n for n in names if n in set(args.only)]
    expected = {}
    if os.path.exists(DIGESTS_PATH):
        with open(DIGESTS_PATH, encoding="utf-8") as fh:
            expected = json.load(fh)
    missing = 0
    for name in names:
        t0 = time.perf_counter()
        res = _run_oracle(specs[name].oracle, args.timeout)
        dt = time.perf_counter() - t0
        if "error" in res:
            missing += 1
            print(f"{name}: FAILED ({res['error'][:200]}) after {dt:.1f} s", flush=True)
            continue
        expected[name] = {
            "digest": digest(res["rows"], res["cols"]),
            "rows": len(res["rows"]),
        }
        print(f"{name}: {len(res['rows'])} rows in {dt:.1f} s", flush=True)
    with open(DIGESTS_PATH, "w", encoding="utf-8") as fh:
        json.dump(dict(sorted(expected.items())), fh, indent=1)
        fh.write("\n")
    print(f"{len(names) - missing}/{len(names)} digests written to {DIGESTS_PATH}")
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
