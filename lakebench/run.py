"""Lakehouse benchmark: one workload, one seed, one run.

Usage (from the repository root)::

    python3 lakebench/run.py --workload refresh_full --seed 1 --seconds 10 --trace 0

Workloads: ``refresh_full``, ``refresh_incremental``, ``query_mix``
(see ``workloads.py``). The run generates its inputs from ``--seed``
under ``.lakebench_work/`` (emptied first; it is also the Spark
warehouse, local and temp directory), sets up and warms the engine,
runs the whole number of rounds of closed-loop ops that best fills
``--seconds`` at the last warm-up round's pace (at least
``MIN_ROUNDS``), checks the results against DuckDB oracles, and prints one JSON object as its
last line of output. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics from a run with spans and the
Spark event log on. See ``README.md`` for every metric's definition.

Exits with code 2, printing no result, when the engine cannot be
imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".lakebench_work")

#: Scale factor of the generated catalog (at most ``gen.BASE_SF``).
SF = 0.005
#: Spark runs local[CPUS].
CPUS = min(4, os.cpu_count() or 1)
#: Set-up is repeated this many times per run; its median is reported.
PREPARE_REPS = 3
#: The timed phase runs at least this many rounds.
MIN_ROUNDS = 2
#: Quantile of op latency reported as ``op_tail_s``.
TAIL = 0.9


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SF, help="scale factor (tests use 0.001)")
    p.add_argument(
        "--corrupt",
        action="store_true",
        help="plant a wrong result before the check (plumbing test)",
    )
    return p.parse_args(argv)


def _dirs() -> SimpleNamespace:
    d = SimpleNamespace(
        data=os.path.join(WORK, "data"),
        warehouse=os.path.join(WORK, "warehouse"),
        local=os.path.join(WORK, "local"),
        tmp=os.path.join(WORK, "tmp"),
        events=os.path.join(WORK, "events"),
    )
    shutil.rmtree(WORK, ignore_errors=True)
    for path in vars(d).values():
        os.makedirs(path)
    return d


def _files(root: str) -> dict[int, tuple[int, int]]:
    """inode -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            try:
                st = os.stat(os.path.join(dirpath, n))
            except FileNotFoundError:
                continue
            out[st.st_ino] = (st.st_size, st.st_mtime_ns)
    return out


class Warehouse:
    """Counts bytes written under the warehouse directory.

    ``mark()`` adds the bytes of files created or rewritten since the
    previous mark to ``pending``; a renamed file keeps its inode and is
    not counted again. Workloads mark after every writer call, before a
    later call can delete what it wrote; ``take()`` marks and returns
    the bytes counted since the previous ``take()``. ``spent`` is the
    time spent marking, which the runner takes off the op times."""

    def __init__(self, root: str):
        self.root = root
        self.snap = _files(root)
        self.pending = 0
        self.spent = 0.0

    def mark(self) -> None:
        t = time.perf_counter()
        after = _files(self.root)
        self.pending += sum(v[0] for k, v in after.items() if self.snap.get(k) != v)
        self.snap = after
        self.spent += time.perf_counter() - t

    def take(self) -> int:
        self.mark()
        out, self.pending = self.pending, 0
        return out


def _data_bytes(root: str, tables: tuple[str, ...]) -> int:
    """Bytes of the parquet data files of ``tables`` (the live data)."""
    total = 0
    for t in tables:
        for dirpath, _, names in os.walk(os.path.join(root, t)):
            total += sum(
                os.path.getsize(os.path.join(dirpath, n))
                for n in names
                if n.endswith(".parquet") and not n.startswith(".")
            )
    return total


def _pids() -> list[int]:
    """This process and its JVM child."""
    me = os.getpid()
    pids = [me]
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if int(fields[1]) == me and comm == "java":
            pids.append(int(p))
    return pids


def _reset_peak_rss() -> None:
    """Restart the peak-RSS count (VmHWM) of this process and its JVM
    from their current RSS."""
    for p in _pids():
        with open(f"/proc/{p}/clear_refs", "w") as fh:
            fh.write("5")


def _peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its JVM child since the
    last ``_reset_peak_rss()``."""
    kb = 0
    for p in _pids():
        with open(f"/proc/{p}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def _hd_quantile(xs: list[float], p: float, steps: int = 4096) -> float:
    """Harrell-Davis estimate of the ``p`` quantile of ``xs``: a weighted
    mean of all the order statistics, the i-th weighted by the mass a
    Beta(p(n+1), (1-p)(n+1)) puts on ((i-1)/n, i/n]. The sample quantile
    of a few dozen ops jumps between op kinds when one op's time
    shifts; this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_c = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    mass = [0.0] * n
    for k in range(steps):
        x = (k + 0.5) / steps
        mass[int(x * n)] += math.exp(log_c + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
    return sum(m * v for m, v in zip(mass, xs)) / sum(mass)


def _commit() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def run(args: argparse.Namespace, dirs: SimpleNamespace) -> dict:
    from lakehouse_tools_spark.session import get_session

    confs = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap keeps peak RSS from depending on GC timing
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={dirs.tmp}",
        "spark.sql.warehouse.dir": dirs.warehouse,
        "spark.local.dir": dirs.local,
    }
    if args.trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs.events,
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_session(app_name="lakebench", extra_confs=confs)
    start_s = time.perf_counter() - t0
    try:
        return _measure(args, dirs, spark, start_s)
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _run_round(w, tracer, wh: Warehouse) -> list[tuple]:
    """Run one round of ``w``'s ops in a closed loop. Per op: ``(op,
    seconds, ok, bytes written)``; the seconds leave out the time spent
    counting written bytes. A failed op is counted, the loop goes on."""
    out = []
    for op in w.round():
        spent, ok = wh.spent, True
        t = time.perf_counter()
        try:
            with tracer.span(f"op.{w.name}", "op"):
                op.fn()
        except Exception:
            ok = False
            traceback.print_exc()
        dt = time.perf_counter() - t - (wh.spent - spent)
        print(f"lakebench: op {op.label} {dt:.3f} s", file=sys.stderr)
        out.append((op, dt, ok, wh.take()))
    return out


def _measure(args: argparse.Namespace, dirs: SimpleNamespace, spark, start_s: float) -> dict:
    import pyspark

    from lakehouse_tools_spark.backend import table_format

    from spans import Tracer, layer_metric_names, layer_metrics
    from workloads import WORKLOADS

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "table_format": table_format(),
        "commit": _commit(),
        "seconds": args.seconds,
        "trace": args.trace,
    }
    print("# lakebench env " + json.dumps(stamp), flush=True)

    tracer = Tracer(spark.sparkContext)
    wh = Warehouse(dirs.warehouse)
    ctx = SimpleNamespace(
        spark=spark,
        tracer=tracer,
        mark=wh.mark,
        data_dir=dirs.data,
        seed=args.seed,
        sf=args.sf,
        corrupt=args.corrupt,
    )
    w = WORKLOADS[args.workload](ctx)
    prep = []
    for _ in range(PREPARE_REPS):
        t = time.perf_counter()
        w.prepare()
        prep.append(time.perf_counter() - t)
    t = time.perf_counter()
    w.warm_up()
    warm = [_run_round(w, tracer, wh) for _ in range(w.warm_rounds)]
    warm_s = time.perf_counter() - t - w.oracle_s
    setup_s = start_s + statistics.median(prep) + warm_s
    # a fixed number of rounds: the one that best fills --seconds at the
    # last warm round's pace, or the least when there is no warm round
    pace = sum(r[1] for r in warm[-1]) if warm else math.inf
    rounds = max(MIN_ROUNDS, round(args.seconds / pace))

    tracer.active = bool(args.trace)
    wh.take()
    _reset_peak_rss()
    done = [r for _ in range(rounds) for r in _run_round(w, tracer, wh)]
    rss = _peak_rss_mb()
    tracer.active = False
    times = [r[1] for r in done]
    timed_s = sum(times)

    t = time.perf_counter()
    checks = w.verify()
    verify_s = time.perf_counter() - t
    for c in checks:
        if c:
            print(f"lakebench: wrong result: {c}", file=sys.stderr)
    live = _data_bytes(dirs.warehouse, w.live)
    disk = sum(v[0] for v in _files(dirs.warehouse).values())
    spark.stop()  # flushes the event log

    ops = [r for rnd in warm for r in rnd] + done
    failed = sum(1 for r in ops if not r[2]) + sum(1 for c in checks if c)
    attempted = len(ops) + len(checks)
    print(
        f"# lakebench {w.name}: {len(done)} timed ops in {rounds} rounds, "
        f"failed_frac = {failed}/{attempted}; "
        f"seconds: start {start_s:.2f}, prepare {'/'.join(f'{p:.2f}' for p in prep)}, "
        f"warm-up {warm_s:.2f}, timed {timed_s:.2f}, verify {verify_s:.2f}",
        flush=True,
    )
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (timed_s / rounds, "s"),
            "op_p50_s": (_hd_quantile(times, 0.5), "s"),
            "op_tail_s": (_hd_quantile(times, TAIL), "s"),
            "rows_per_s": (sum(op.rows for op, _, ok, _ in done if ok) / timed_s, "rows/s"),
            "peak_rss_mb": (rss, "MB"),
            "write_amp": (statistics.fmean(r[3] for r in done) / live, "ratio"),
            "space_amp": (disk / live, "ratio"),
        }
    else:
        lm = layer_metrics(tracer, dirs.events)
        rows_written = lm.pop("_upsert_rows_written", 0.0)
        merged = w.ratios.get("merged_rows", 0)
        selfs = tracer.self_times()
        library = sum(v for i, v in selfs.items() if tracer.spans[i]["phase"] != "op")
        lm.update(
            {
                "session.start_s": start_s,
                "operators.profile.profile_data.distinct_ratio": w.ratios.get("distinct_ratio", 0.0),
                "operators.writer.upsert_into.rewrite_ratio": rows_written / merged if merged else 0.0,
                "trace.wall_s": timed_s / rounds,
                "trace.self_cover": library / timed_s,
            }
        )
        metrics = {n: (lm[n], u) for n, u in layer_metric_names()}
        tracer.dump(os.path.join(WORK, "spans.json"), stamp)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # the engine reads these when imported or when its JVM starts
    dirs = _dirs()
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = dirs.local
    os.environ["TMPDIR"] = dirs.tmp
    tempfile.tempdir = None
    sys.path.insert(1, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import lakehouse_tools_spark  # noqa: F401
    except ImportError as exc:
        print(f"lakebench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"lakebench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args, dirs)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
