"""Build the benchmark's base sample from the engine's sf0.1 fixture.

The benchmark must run from its own directory alone, so it cannot read
the fixture directory at run time. This script takes a fixed,
seed-free sample of the fixture once and stores it under ``base/``;
``gen.py`` derives every seeded input from that sample. The sample
keeps the fixture's schemas and physical parquet types as they are,
and its value distributions row for row:

- ``region``, ``nation`` and ``supplier`` (dimensions every fact row
  references) are kept whole;
- ``customer``, ``part``, ``events``, ``documents`` and ``embeddings``
  keep the rows whose key is a multiple of 10;
- ``orders`` keeps the orders of the kept customers, and ``lineitem``
  every line of the kept orders, so the joins of the TPC-H queries
  still find their partners.

From the 0.1 fixture this is a scale-factor-0.01 catalog (89 422
rows). Usage::

    python3 lakebench/make_base.py <fixture_dir> [out_dir]

``out_dir`` defaults to ``lakebench/base``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

from gen import BASE_SF, TABLES

#: tables sampled by key, with the key column
BY_KEY = {
    "customer": "c_custkey",
    "part": "p_partkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
#: one row in this many is kept
EVERY = 10


def _keep(tbl, column: str, keys: np.ndarray):
    return tbl.filter(np.isin(tbl.column(column).to_numpy(), keys))


def sample(fixture: str) -> dict:
    """The base sample of every table of ``fixture``."""
    src = {t: pq.read_table(os.path.join(fixture, f"{t}.parquet")) for t in TABLES}
    out = {t: src[t] for t in ("region", "nation", "supplier")}
    for t, key in BY_KEY.items():
        k = src[t].column(key).to_numpy()
        out[t] = _keep(src[t], key, k[k % EVERY == 0])
    out["orders"] = _keep(src["orders"], "o_custkey", out["customer"].column("c_custkey").to_numpy())
    out["lineitem"] = _keep(
        src["lineitem"], "l_orderkey", out["orders"].column("o_orderkey").to_numpy()
    )
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    fixture = argv[0]
    out_dir = argv[1] if len(argv) > 1 else os.path.join(os.path.dirname(__file__), "base")
    os.makedirs(out_dir, exist_ok=True)
    for t, tbl in sample(fixture).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{t}.parquet"), compression="zstd")
        print(f"{t}: {tbl.num_rows} rows (base scale factor {BASE_SF})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
