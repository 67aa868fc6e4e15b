"""Run every query of both mixes once and compare it with its stored digest.

A timed run checks only the queries it runs. This script checks all of
them in one Spark session (about four minutes on 4 cores); run it from
the repository root after a change that could alter query results:

    python3 perfbench/check_mixes.py

It exits non-zero if any query fails or differs from its DuckDB digest.
"""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    import workloads
    from mixes import MIXES
    from run import SF_DIR
    from tracing import Tracer

    with tempfile.TemporaryDirectory(dir=root, prefix=".perfbench_check-") as tmp:
        ctx = workloads.setup(
            tmp, SF_DIR, os.path.join(tmp, "warehouse"), {"spark.ui.showConsoleProgress": "false"}
        )
        try:
            mix = workloads.QueryMix(ctx, "adhoc_mix", Tracer(ctx.spark, enabled=False))
            bad = []
            for name in MIXES["adhoc_mix"] + MIXES["curation_iterative"]:
                op = mix._query(name)
                print(f"{name}: {'ok' if op.ok else op.detail} ({op.wall_s:.2f} s)", flush=True)
                if not op.ok:
                    bad.append(name)
        finally:
            ctx.spark.stop()
    n = len(MIXES["adhoc_mix"]) + len(MIXES["curation_iterative"])
    print(f"{n - len(bad)}/{n} queries match their digests")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
