"""Closing-gate check for the extended freeze rule (VERDICT r07
item 2): before the end-of-round snapshot, every operator whose
executing code changed this round must have a carrier query inside
the driver's ~50-entry correctness window (the first entries of
``__spark_entry__.queries()``) — otherwise the round ships driver
rows that predate the code they vouch for, the exact gap r06/r07
each reopened by hand-checking this in prose.

Mechanics:

1. BASE = the last ``round N: verdict...`` commit (overridable via
   argv) — everything after it is "this round".
2. ``git diff BASE..HEAD -- lakehouse_tools_spark/ __spark_entry__.py``
   gives the round's touched source files; parsing BOTH versions of
   each file and comparing per-def source segments gives the changed
   top-level functions/classes (docstring/comment-only edits still
   count — the driver row is the hard signal, and r07's "arithmetic
   no-op" precedent says builders don't get to adjudicate
   materiality).
3. A static intra-package reference graph (imports + attribute use,
   best-effort ast resolution) maps each changed def to the
   registered queries whose call graph can reach it.
4. PASS iff every changed def with at least one affected registered
   query has at least one of them inside the window. Defs no
   registered query reaches (pure helpers, tools) are reported but
   cannot fail the gate.

Exit 0 = gate passes; exit 1 = freeze-rule violation (the printed
report names each offending def and its candidate carriers).

Usage::  python tools/freeze_gate.py [base_rev] [--window N]
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "lakehouse_tools_spark"
ENTRY = "__spark_entry__.py"
WINDOW = 50


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args],
        stdout=subprocess.PIPE,
        text=True,
        check=True,
    ).stdout


def default_base() -> str:
    out = _git(
        "log", "--grep", "^round [0-9]*: verdict", "--format=%H", "-n", "1"
    ).strip()
    if not out:
        raise SystemExit("no 'round N: verdict' base commit found")
    return out


def _defs(src: str) -> dict[str, str]:
    """Top-level def/class name -> exact source segment."""
    tree = ast.parse(src)
    return {
        n.name: ast.get_source_segment(src, n) or ""
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }


def changed_defs(base: str) -> dict[str, set[str]]:
    """file -> set of changed/added top-level def names this round."""
    files = [
        f
        # diff against the WORKING TREE (not ..HEAD): the gate runs
        # before the end-of-round snapshot, when the round's last
        # changes may not be committed yet
        for f in _git(
            "diff", "--name-only", base, "--", PKG, ENTRY
        ).splitlines()
        if f.endswith(".py")
    ]
    out: dict[str, set[str]] = {}
    for f in files:
        try:
            new = open(os.path.join(REPO, f)).read()
        except OSError:
            continue  # deleted file: nothing executes from it anymore
        try:
            old = _git("show", f"{base}:{f}")
        except subprocess.CalledProcessError:
            old = ""  # new file: every def is changed
        try:
            nd, od = _defs(new), _defs(old) if old else {}
        except SyntaxError:
            out.setdefault(f, set()).add("<unparseable>")
            continue
        ch = {name for name, seg in nd.items() if od.get(name) != seg}
        if ch:
            out[f] = ch
    return out


def _module_key(f: str) -> str:
    return f[:-3].replace("/", ".")


class _RefGraph:
    """Best-effort static reference graph over the package +
    ``__spark_entry__``: node = ``module.py::name``; an edge A -> B
    means A's body references B (call, decorator, or bare name/attr
    use through an import)."""

    def __init__(self) -> None:
        self.edges: dict[str, set[str]] = {}
        self.files = [ENTRY]
        for dirpath, _dirs, names in os.walk(os.path.join(REPO, PKG)):
            for n in sorted(names):
                if n.endswith(".py"):
                    self.files.append(
                        os.path.relpath(os.path.join(dirpath, n), REPO)
                    )
        # name -> node for every top-level def, per module import map
        self.defs_by_module: dict[str, dict[str, str]] = {}
        trees = {}
        for f in self.files:
            src = open(os.path.join(REPO, f)).read()
            trees[f] = ast.parse(src)
            self.defs_by_module[f] = {
                n.name: f"{f}::{n.name}"
                for n in trees[f].body
                if isinstance(
                    n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
            }
        for f in self.files:
            self._wire(f, trees[f])

    def _imports(self, body: list[ast.stmt]) -> dict[str, str | tuple]:
        """local name -> module file (alias) or (module file, symbol)."""
        imp: dict[str, str | tuple] = {}
        for n in ast.walk(ast.Module(body=body, type_ignores=[])):
            if isinstance(n, ast.ImportFrom) and n.module and (
                n.module.startswith(PKG)
            ):
                mf = n.module.replace(".", "/") + ".py"
                pkg_init = n.module.replace(".", "/") + "/__init__.py"
                target = mf if os.path.exists(os.path.join(REPO, mf)) else None
                for a in n.names:
                    nm = a.asname or a.name
                    if target:
                        imp[nm] = (target, a.name)
                    else:
                        # `from pkg.sub import module` form
                        sub = n.module.replace(".", "/") + f"/{a.name}.py"
                        if os.path.exists(os.path.join(REPO, sub)):
                            imp[nm] = sub
                        elif os.path.exists(os.path.join(REPO, pkg_init)):
                            imp[nm] = (pkg_init, a.name)
            elif isinstance(n, ast.Import):
                for a in n.names:
                    if a.name.startswith(PKG):
                        mf = a.name.replace(".", "/") + ".py"
                        if os.path.exists(os.path.join(REPO, mf)):
                            imp[a.asname or a.name] = mf
        return imp

    @staticmethod
    def _bound(node: ast.AST) -> set[str]:
        """Names a def binds: its own name, parameters (its own, inner
        defs' and lambdas'), assignment / for / with / comprehension /
        walrus / ``except … as`` targets and inner def/class names,
        less those it declares ``global``. One flat scope per
        top-level def — a name bound in any nested scope masks the
        module-level def of that name throughout."""
        bound: set[str] = set()
        glob: set[str] = set()
        for n in ast.walk(node):
            if isinstance(n, ast.arg):
                bound.add(n.arg)
            elif isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
                bound.add(n.id)
            elif isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                bound.add(n.name)
            elif isinstance(n, ast.ExceptHandler) and n.name:
                bound.add(n.name)
            elif isinstance(n, ast.Global):
                glob.update(n.names)
        return bound - glob

    def _wire(self, f: str, tree: ast.Module) -> None:
        mod_imports = self._imports(tree.body)
        local = self.defs_by_module[f]
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            src_node = f"{f}::{node.name}"
            refs = self.edges.setdefault(src_node, set())
            imports = dict(mod_imports)
            imports.update(self._imports([node]))  # in-function imports
            # a name the def binds itself is a local, not an edge
            bound = self._bound(node)
            for n in ast.walk(node):
                if isinstance(n, ast.Name) and n.id not in bound:
                    tgt = imports.get(n.id)
                    if isinstance(tgt, tuple):
                        mf, sym = tgt
                        hit = self.defs_by_module.get(mf, {}).get(sym)
                        if hit:
                            refs.add(hit)
                        elif mf.endswith("__init__.py"):
                            # re-export: best effort — link to any
                            # module defining that symbol
                            for dm in self.defs_by_module.values():
                                if sym in dm:
                                    refs.add(dm[sym])
                    elif n.id in local:
                        refs.add(local[n.id])
                elif (
                    isinstance(n, ast.Attribute)
                    and isinstance(n.value, ast.Name)
                    and n.value.id not in bound
                ):
                    tgt = imports.get(n.value.id)
                    if isinstance(tgt, str):
                        hit = self.defs_by_module.get(tgt, {}).get(n.attr)
                        if hit:
                            refs.add(hit)

    def reachers(self, targets: set[str]) -> set[str]:
        """All nodes whose transitive reference closure hits targets."""
        hit = set(targets)
        changed = True
        while changed:
            changed = False
            for src, refs in self.edges.items():
                if src not in hit and refs & hit:
                    hit.add(src)
                    changed = True
        return hit


def run(base: str, window: int = WINDOW) -> int:
    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    registered = list(E.queries())
    in_window = set(registered[:window])
    ch = changed_defs(base)
    if not ch:
        print(f"freeze-gate: no package source changed since {base[:9]} — PASS")
        return 0
    graph = _RefGraph()
    q_node = {f"{ENTRY}::q_{name}": name for name in registered}
    # entry() and helper defs in __spark_entry__ map to no query
    failures = []
    print(f"freeze-gate: base {base[:9]}, window = first {window} of queries()")
    for f, names in sorted(ch.items()):
        for name in sorted(names):
            node = f"{f}::{name}"
            reach = graph.reachers({node})
            affected = sorted(
                q_node[r] for r in reach if r in q_node
            )
            covered = sorted(set(affected) & in_window)
            if f == ENTRY and name.startswith("q_") and name[2:] in registered:
                affected = sorted(set(affected) | {name[2:]})
                covered = sorted(set(affected) & in_window)
            if not affected:
                print(f"  note  {node}: no registered query reaches it")
            elif covered:
                print(
                    f"  ok    {node}: {len(affected)} affected, in-window "
                    f"carrier(s): {', '.join(covered[:4])}"
                    + (" ..." if len(covered) > 4 else "")
                )
            else:
                failures.append((node, affected))
                print(
                    f"  FAIL  {node}: {len(affected)} affected, NONE in "
                    f"window — candidates: {', '.join(affected[:6])}"
                    + (" ..." if len(affected) > 6 else "")
                )
    if failures:
        print(
            f"freeze-gate: FAIL — {len(failures)} changed def(s) lack an "
            "in-window carrier; rotate one into the first "
            f"{window} entries of queries() before the snapshot"
        )
        return 1
    print("freeze-gate: PASS")
    return 0


def main() -> None:
    args = sys.argv[1:]
    window = WINDOW
    if "--window" in args:
        i = args.index("--window")
        window = int(args[i + 1])
        del args[i : i + 2]
    base = args[0] if args else default_base()
    raise SystemExit(run(base, window))


if __name__ == "__main__":
    main()
