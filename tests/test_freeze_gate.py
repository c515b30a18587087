"""The freeze-rule closing gate (tools/freeze_gate.py) must map a
changed operator def to its registered carrier queries — the
VERDICT r07 item-2 requirement that the gate be a scripted check,
not prose."""

import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

import freeze_gate as FG  # noqa: E402


def test_graph_reaches_direct_carrier():
    g = FG._RefGraph()
    reach = g.reachers({"lakehouse_tools_spark/ext/corpus.py::budget_select"})
    assert "__spark_entry__.py::q_corpus_budget_select" in reach


def test_graph_reaches_profiler_through_melt_sizing():
    # the r07 gap: ensure_parallelism changed, profiler rows stale —
    # the gate must see the profiler family as affected
    g = FG._RefGraph()
    reach = g.reachers(
        {"lakehouse_tools_spark/sources/tables.py::ensure_parallelism"}
    )
    assert "__spark_entry__.py::q_profiler_e2e" in reach


def test_graph_reaches_keyed_guard_sites():
    # the dedup/text document spread and the LSH vector spread both go
    # through ensure_parallelism: a change to the guard must mark them
    g = FG._RefGraph()
    reach = g.reachers(
        {"lakehouse_tools_spark/sources/tables.py::ensure_parallelism"}
    )
    assert "__spark_entry__.py::q_text_bigrams" in reach
    assert "__spark_entry__.py::q_sim_neardup_lsh" in reach


def test_changed_defs_sees_worktree(tmp_path):
    # a def changed only in the working tree (uncommitted) must be
    # reported: the gate runs BEFORE the end-of-round snapshot
    ch = FG.changed_defs("HEAD")
    for f, names in ch.items():
        assert f.endswith(".py")
        assert names


def test_run_against_self_is_clean():
    # diffing HEAD against HEAD's own tree state: the gate must never
    # crash, and any reported defs must each carry a verdict line
    rc = FG.run("HEAD", window=50)
    assert rc in (0, 1)


def test_local_name_is_not_an_edge_to_a_module_def():
    # q_sim_topk binds a local variable ``queries``: that is no
    # reference to the module-level ``queries()`` registry view, so
    # the gate must not count sim_topk as a carrier of every def
    # queries() names
    g = FG._RefGraph()
    edges = g.edges["__spark_entry__.py::q_sim_topk"]
    assert "__spark_entry__.py::queries" not in edges
    assert "__spark_entry__.py::_spark" in edges


#: Package defs no registered query, oracle builder or tool import
#: reaches, kept on purpose as public API (README coverage matrix).
PUBLIC_API = (
    ("lakehouse_tools_spark/catalog.py::list_databases", "C1 SHOW DATABASES"),
    ("lakehouse_tools_spark/catalog.py::set_current_database", "C3 USE"),
    ("lakehouse_tools_spark/catalog.py::current_database", "C4 current_database"),
    ("lakehouse_tools_spark/catalog.py::describe_columns", "C7 DESCRIBE"),
    ("lakehouse_tools_spark/catalog.py::drop_temp_view", "C11 DROP view"),
    ("lakehouse_tools_spark/catalog.py::table_names", "A2 collect_list"),
    ("lakehouse_tools_spark/operators/maintenance.py::compact", "O1 compaction"),
    (
        "lakehouse_tools_spark/operators/scd.py::scd2_at",
        "Versioning: SCD2 point-in-time slice",
    ),
    (
        "lakehouse_tools_spark/operators/writer.py::table_history",
        "Versioning: DESCRIBE HISTORY",
    ),
    (
        "lakehouse_tools_spark/ext/similarity.py::quantized_trace",
        "Spark twin of quantized_trace_oracle, compared in the PCA tests",
    ),
    (
        "lakehouse_tools_spark/session.py::streaming_state_confs",
        "bounded-memory RocksDB state-store preset (SCALING.md conf A/B)",
    ),
)


def _tool_import_roots(g):
    """Package defs that lakebench/*.py, bench.py and tools/*.py import
    by name, or use as ``module.name`` through an imported module."""
    import ast
    import glob

    files = [
        *glob.glob(os.path.join(FG.REPO, "lakebench", "*.py")),
        os.path.join(FG.REPO, "bench.py"),
        *glob.glob(os.path.join(FG.REPO, "tools", "*.py")),
    ]
    roots = set()
    for f in files:
        tree = ast.parse(open(f).read())
        imports = g._imports(tree.body)
        for tgt in imports.values():
            if isinstance(tgt, tuple):
                mf, sym = tgt
                roots |= {
                    dm[sym]
                    for m, dm in g.defs_by_module.items()
                    if sym in dm and (m == mf or mf.endswith("__init__.py"))
                }
        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                mf = imports.get(n.value.id)
                if isinstance(mf, str) and n.attr in g.defs_by_module.get(mf, {}):
                    roots.add(g.defs_by_module[mf][n.attr])
    return roots


def test_every_package_def_is_reached():
    # a package def that no registered query, tool import or declared
    # public API reaches is dead code: delete it, or name it above
    g = FG._RefGraph()
    roots = {n for n in g.edges if n.startswith(FG.ENTRY + "::")}
    roots |= _tool_import_roots(g)
    roots |= {name for name, _ in PUBLIC_API}
    seen, todo = set(roots), list(roots)
    while todo:
        for nxt in g.edges.get(todo.pop(), ()):
            if nxt not in seen:
                seen.add(nxt)
                todo.append(nxt)
    defs = {
        node
        for f, dm in g.defs_by_module.items()
        if f.startswith(FG.PKG + "/")
        for node in dm.values()
    }
    assert {name for name, _ in PUBLIC_API} <= defs
    assert sorted(defs - seen) == []
