"""Result digests for the benchmark's output checks.

A query's result is normalised exactly as the oracle-parity tests do:
columns sorted by name, each value rendered with ``repr`` (NaN as the
string ``"NaN"``), rows sorted. The digest is the SHA-256 of the
column names and the normalised rows, so two engines agree on a digest
only when they agree on every value at full precision.

The expected digests live in ``digests.json`` beside this file. They
were computed once from each query's DuckDB oracle SQL on the bundled
sf0.1 tables by ``make_digests.py`` and are never recomputed during a
run.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def normalize(rows, colnames):
    """Sort columns by name, render values with ``repr``, sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm_val(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return repr(v)

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    out.sort()
    return [colnames[i] for i in order], out


def digest(rows, colnames) -> str:
    cols, norm = normalize(rows, colnames)
    h = hashlib.sha256()
    h.update(json.dumps(cols, ensure_ascii=False).encode())
    for r in norm:
        h.update(b"\n")
        h.update(json.dumps(r, ensure_ascii=False).encode())
    return h.hexdigest()


def load_expected() -> dict[str, dict]:
    with open(DIGESTS_PATH, encoding="utf-8") as fh:
        return json.load(fh)
