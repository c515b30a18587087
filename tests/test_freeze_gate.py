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
