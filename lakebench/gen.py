"""Seeded input generator for the lakehouse benchmark.

Every input is derived from ``base/``: a fixed sample of the engine's
scale-factor-0.1 fixture at scale factor ``BASE_SF``, made once by
``make_base.py`` and kept in this directory so a run reads nothing
outside it. ``generate(out_dir, seed, sf)`` writes a seeded subsample
at scale factor ``sf`` (at most ``BASE_SF``) with the fixture's
schemas, parquet types and value distributions, one single-file
parquet table per name:

- ``region``, ``nation`` and ``supplier`` are kept whole (dimensions
  every fact row references);
- ``customer``, ``part`` and ``events`` keep a seeded ``sf / BASE_SF``
  share of their rows;
- ``documents`` and ``embeddings`` keep the same share, but one fixed
  sample for every seed: their near-duplicate structure sets how many
  passes the dedup's connected components take, and a seeded sample
  moved ``dedup_collapse`` between 2.2 and 5 s;
- ``orders`` keeps a seeded ``CHILD_KEEP`` share of the orders of the
  kept customers, and ``lineitem`` the same share of the lines of the
  kept orders, so the TPC-H joins still find their partners.

The same ``(seed, sf)`` always yields the same rows. Row counts depend
on ``sf`` only, so every seed gives the engine the same amount of work.

``change_batch`` produces the incremental workload's source writes:
rows updated with the values of other fixture rows, rows deleted, and
fixture rows appended under fresh keys.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Directory of the base sample, and its scale factor.
BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
BASE_SF = 0.01

#: Spark ``simpleString`` type of every column, in order (the base
#: sample's, checked on load). The oracles and the schema check read it.
SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}

_ARROW = {
    "int": pa.int32(),
    "bigint": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
    "timestamp": pa.timestamp("us"),
    "array<float>": pa.list_(pa.float32()),
}

#: Tables kept whole at every scale factor.
WHOLE = ("region", "nation", "supplier")
#: table -> (parent table, foreign key, parent key) for tables sampled
#: through their parent's kept keys.
CHILD = {
    "orders": ("customer", "o_custkey", "c_custkey"),
    "lineitem": ("orders", "l_orderkey", "o_orderkey"),
}
#: Tables sampled the same way for every seed (see the module docstring).
FIXED = ("documents", "embeddings")
#: Share of a child's matching rows kept. Below 1, so the kept count is
#: fixed however many rows the seed's parents happen to own.
CHILD_KEEP = 0.85


def load_base(base_dir: str = BASE_DIR) -> dict[str, pa.Table]:
    """The base sample, with its schemas checked against ``SCHEMAS``."""
    out = {}
    for t in TABLES:
        tbl = pq.read_table(os.path.join(base_dir, f"{t}.parquet"))
        want = pa.schema([(c, _ARROW[dt]) for c, dt in SCHEMAS[t]])
        if not tbl.schema.remove_metadata().equals(want):
            raise ValueError(f"base table {t} has schema {tbl.schema}, want {want}")
        out[t] = tbl.replace_schema_metadata(None)
    return out


def _choose(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    """Sorted positions of ``k`` of ``n`` rows (all of them if ``k >= n``)."""
    return np.sort(rng.choice(n, size=min(n, k), replace=False))


def sample(base: dict[str, pa.Table], seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table at scale factor ``sf`` for ``seed``."""
    frac = sf / BASE_SF
    if not 0 < frac <= 1:
        raise ValueError(f"scale factor {sf} is not in (0, {BASE_SF}]")
    out: dict[str, pa.Table] = {}
    for t in TABLES:
        rng = np.random.default_rng([0 if t in FIXED else seed, TABLES.index(t)])
        src = base[t]
        if t in WHOLE:
            out[t] = src
        elif t in CHILD:
            parent, fk, pk = CHILD[t]
            rows = src.filter(pc.is_in(src[fk], value_set=out[parent][pk]))
            share = out[parent].num_rows / base[parent].num_rows
            out[t] = rows.take(_choose(rng, rows.num_rows, int(CHILD_KEEP * share * src.num_rows)))
        else:
            out[t] = src.take(_choose(rng, src.num_rows, round(frac * src.num_rows)))
    return out


def write_table(tbl: pa.Table, path: str) -> None:
    """Replace ``path`` with ``tbl`` as one single-row-group file,
    atomically (readers never see a half-written file)."""
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp, row_group_size=max(1, tbl.num_rows))
    os.replace(tmp, path)


def generate(out_dir: str, seed: int, sf: float) -> dict[str, pa.Table]:
    """Write every table to ``out_dir/<name>.parquet``; returns them."""
    os.makedirs(out_dir, exist_ok=True)
    out = sample(load_base(), seed, sf)
    for t, tbl in out.items():
        write_table(tbl, os.path.join(out_dir, f"{t}.parquet"))
    return out


#: Tables the incremental workload writes to (the dimensions stay
#: fixed, as a real star schema's do).
MUTABLE = ("customer", "part", "orders", "lineitem", "events")


def change_batch(
    tbl: pa.Table, donors: pa.Table, rng: np.random.Generator, frac: float = 0.02
) -> pa.Table:
    """A new version of ``tbl`` (first column its key): ``frac`` of its
    rows take every other column from a random row of ``donors`` (the
    base sample of the same table), half as many rows are deleted, and
    as many donor rows are appended under fresh keys, so the row count
    and schema stay fixed and the profile shifts every time."""
    n = tbl.num_rows
    k = max(1, int(n * frac))
    d = max(1, k // 2)
    key = tbl.schema.names[0]
    picked = rng.permutation(n)[: k + d]
    keep = np.ones(n, dtype=bool)
    keep[picked] = False
    fill = donors.take(rng.integers(0, donors.num_rows, k + d))
    updated = fill.slice(0, k).set_column(0, key, tbl[key].take(picked[:k]))
    key0 = pc.max(tbl[key]).as_py() + 1
    fresh = pa.array(np.arange(key0, key0 + d), type=tbl.schema.field(key).type)
    added = fill.slice(k).set_column(0, key, fresh)
    return pa.concat_tables([tbl.filter(keep), updated, added]).combine_chunks()
