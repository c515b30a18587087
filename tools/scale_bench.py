"""Multi-point scaling measurement for the flagship queries (18 as
of r10; one curve per family with a 100 TB claim).

Runs each flagship at sf0.01 and sf0.1 (driver fixtures), then sf1
(10x up-sample built by tools/scale_fixture.py), sf5, and sf10 —
each point measured iff its fixture dir exists (sf10 initially
covered only the three r06 highest-exponent curves + the sketch
profiler; since late r07 every flagship runs the full decade),
min-of-RUNS per point, and prints a JSON table with the per-decade
scaling exponent e = log10(t_hi / t_lo): e == 1 is linear-in-data,
e == 0 is pure fixed overhead, e > 1 is a super-linear term that
would not survive 100 TB. Local caveat (SCALING.md "Known
local-vs-cluster deltas"): small-SF points are dominated by fixed
per-job overhead, so the TOP decade (sf0.1 -> sf1) is the
informative one — overhead is amortized 10x further there.

Isolation methodology (r07, replacing the r06 one-shared-session
run): each flagship's curve runs in its OWN identically-warmed
subprocess, and the cache is cleared between POINTS within a curve.
An exponent only ever compares points inside one flagship, so
sharing a JVM across flagships adds no comparability — it only adds
session-aging contamination, which the sf10 extension measured
directly: corpus_dedup_e2e's sf10 point read 41.9 s when measured
third-in-session (after 30 runs of two other flagships, 15 of them
streaming drains) vs 28.4 s in a fresh session running the exact
same min-of-3 protocol; per-point cache clearing likewise stops the
small points' per-call persists from squatting in storage memory
while the big points run. See SCALING.md "sf10 extension" for the
full attribution.

Usage::  python tools/scale_bench.py [runs]
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import host_sentinel as HS  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from lakehouse_tools_spark.session import get_session  # noqa: E402

FLAGSHIPS = [
    "profiler_e2e",
    "dedup_collapse",
    "sim_covariance",
    "corpus_dedup_e2e",
    # one measured curve per remaining family with a 100 TB claim:
    # ANN (bucketed cosine top-k), incremental dedup (index screen),
    # text scoring (TF persist + per-doc window), packing (FFD via
    # bucketed windowed cumsum)
    "sim_ann_lsh",
    "dedup_incremental",
    "text_keywords",
    "pack_bins",
    # multi-distinct FD discovery (Expand + partial distinct maps —
    # the r09 expansion-sizing fix's regression watch)
    "profile_fd",
    # stateful streaming (applyInPandasWithState sessionizer). Only
    # measurable in a shared session since run_to_memory releases
    # terminated drains (streams.resetTerminated) — before that the
    # manager-pinned runtime state of prior drains inflated the 8th
    # drain ~4x (125.8 s vs 31.9 s at sf5; SCALING.md attribution)
    "events_stream_sessionize",
    # the SAME sessionizer on Spark 4's transformWithState API
    # (streaming/tws.py): typed ListState + per-key event-time
    # timers on the RocksDB state store — the measured comparison
    # of the two stateful runtimes (HDFS-backed tuple-blob state vs
    # RocksDB column families) on an identical workload
    "events_stream_sessionize_tws",
    # both drift forms: exact-KS audit (shuffle carries distinct
    # values, not rows) and the binned-PSI scale path; multimodal
    # Arrow-batch featurizer
    "drift_ks",
    "profile_drift",
    "multimodal_features",
    # sub-document span dedup (C4/RefinedWeb boilerplate pass)
    "corpus_span_dedup",
    # the sketch profiler — the documented 100 TB path for exact-
    # profile-hostile (high-cardinality) columns: one wide mergeable-
    # sketch aggregate per table, no melt, nothing data-sized shuffles
    "profile_summary_approx",
    # budget-capped selection — r08 rewrite: persist-free two-phase
    # global cumsum over deterministic driver-computed quantile
    # buckets (ext/corpus.budget_select); 16th curve added the round
    # the algorithm changed
    "corpus_budget_select",
    # BPE train + encode (ext/text.learn_bpe_merges + apply_bpe) —
    # 18th curve added r10, the round the encode route changed from a
    # driver-side vocab dictionary to the distributed
    # mapInPandas-over-distinct-words + join-back plan (the
    # budget_select precedent: re-measure/first-measure the flagship
    # the round its algorithm changes)
    "text_bpe",
    # the two r09-added operators that never got first curves
    # (profile_fd got its own on addition): pattern_match's claim is
    # ONE narrow exchange carrying (key, order, token) rows;
    # benford_report's is a shuffle of <=9 rows per map partition —
    # both claims are exactly what the decade ladder exists to verify
    "events_pattern",
    "profile_benford",
    # 21st curve (r11): the most expensive driver-bench query without
    # one — the full leakage-safe corpus split (LSH near-dup pairs ->
    # connected components -> component-atomic train/val/test
    # assignment in ONE query). Its 100 TB claim is that every join
    # is bucketed and the iterative CC jobs carry linear payloads;
    # the decade ladder is what verifies that claim instead of
    # restating it
    "corpus_split_leakage_safe",
    # 22nd curve (r11): the SECOND ANN scale path. sim_ann_lsh's
    # curve covers the hyperplane-LSH route; this one prices the
    # production IVF layout end-to-end — spherical-k-means centroid
    # refinement (two Lloyd iterations: k x dim broadcast state,
    # map-side partial sums) + nprobe=2 cell-probed top-k. Its 100 TB
    # claim is that train+probe cost scales with data x k, never
    # data x data: assignment is a broadcast-centroid projection and
    # the probe join is cell-bucketed
    "sim_ivf_kmeans",
    # 23rd/24th flagships, REGISTERED r11 with first measurement
    # OWED (r12): the as-of (point-in-time) join — the custom
    # operator family with no curve; claim: one hash shuffle on the
    # key + window sorts, so it scales like a sort of the event
    # volume, never like a join enumeration — and edit-distance
    # entity resolution via q-gram blocking
    # (ext/fuzzy.edit_distance_join); claim: gram equi-join + exact
    # residual, never a cartesian — candidate volume grows with the
    # gram-collision rate, not n^2 (the documented _bruteforce path
    # is eval-only and NOT what this measures). r11's closing hours
    # sat in a persistent degraded-io window (sentinel logs: >40 min
    # of degraded/marginal probes after the full-suite run), so both
    # gated curve attempts exhausted without a healthy start; per the
    # healthy-window-only rule neither was measured through the bad
    # window. Neither has a SCALING_EVIDENCE row yet — measure each
    # through a gated retry loop (SCALING.md "In-harness profiler
    # re-measure: LANDED with bracket receipts") and add the rows.
    "asof_join",
    "fuzzy_join",
    # 25th flagship (r12, registered the round its operator landed):
    # the MinHash cluster-dedup precision/recall report
    # (ext/dedup.cluster_dedup_report). Two distinct scale claims in
    # one curve: the PREDICTED side is the production bucketed path
    # (banded equi-join candidates + signature agreement, no
    # all-pairs anywhere) and the TRUTH side is the exact audit
    # baseline whose cost is sum over shingles of df^2 — linear on
    # this shape-preserving fixture (per-shingle doc frequency is
    # capped at 25 at every sf: measured 12.7M pair-join rows at
    # sf1, 126.6M at sf10), sample-bounded in production. The tagged
    # single-run CC covers all six (side, threshold) graphs.
    "dedup_cluster_report",
]
POINTS = [
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", ".scale_fixtures/sf1"),
    # optional half-decade extension: present iff
    # `python tools/scale_fixture.py 50 .scale_fixtures/sf5` was run
    ("sf5", ".scale_fixtures/sf5"),
    # full-decade extension; present iff
    # `python tools/scale_fixture.py 100 .scale_fixtures/sf10` was
    # run. Initially measured only for the three r06
    # highest-tail-exponent curves + the sketch profiler; since late
    # r07 EVERY flagship runs the full decade (the r06 gating was a
    # budget call, and the sf10 segment is precisely where hidden
    # quadratics surface — the harness's whole point)
    ("sf10", ".scale_fixtures/sf10"),
]


def _sessionize_to_noop(spark, sf_dir: str) -> None:
    """Scale variant of ``events_stream_sessionize``: the identical
    pipeline (sentinel union -> watermark -> applyInPandasWithState
    sessionizer), drained ``availableNow`` to the distributed noop
    sink instead of the driver-memory sink.

    The REGISTERED query keeps the memory sink because the driver
    hashes its returned rows — that is the correctness harness, and
    at sf0.01 the collect is trivial. At bench scale the memory sink
    stops measuring the operator: 5-10M session rows collected into
    the driver per drain produce 2-3x run-to-run variance from heap
    churn (measured r07: sf5 drains [47.8, 101.1, 60.3] s, sf10
    [221.1, 85.2, 65.2] s back-to-back in one session), which on the
    sf5->sf10 half-decade segment swamps the exponent. A streaming
    noop write is the at-scale sink shape (writeStream to
    distributed storage, nothing funneled through the driver), so
    this is the curve that answers "does the OPERATOR scale".
    """
    import datetime
    import shutil
    import tempfile

    from lakehouse_tools_spark.sources.tables import load_stream
    from lakehouse_tools_spark.streaming import windows as X_win
    from lakehouse_tools_spark.streaming.joins import flush_sentinel_union
    from lakehouse_tools_spark.streaming.stateful import stateful_sessionize

    stream = load_stream(spark, sf_dir, "events").select("user_id", "ts", "value")
    d = tempfile.mkdtemp(prefix="lts_scale_sessionize_")
    try:
        withsent = flush_sentinel_union(
            stream,
            {"user_id": -1, "ts": datetime.datetime(2030, 1, 1), "value": 0.0},
            d,
        )
        sessions = stateful_sessionize(
            X_win.with_watermark(withsent, "ts", "10 minutes"), gap_minutes=5
        )
        q = (
            sessions.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(d, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        spark.streams.resetTerminated()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _sessionize_tws_to_noop(spark, sf_dir: str) -> None:
    """Same noop-sink scale shape as :func:`_sessionize_to_noop`, on
    the ``transformWithStateInPandas`` operator (streaming/tws.py):
    the measured head-to-head of the two PySpark stateful runtimes on
    an identical sessionization workload — tuple-blob state in the
    HDFS-backed provider vs typed ListState + per-key event-time
    timers in RocksDB column families."""
    import datetime
    import shutil
    import tempfile

    from lakehouse_tools_spark.sources.tables import load_stream
    from lakehouse_tools_spark.streaming import windows as X_win
    from lakehouse_tools_spark.streaming.joins import flush_sentinel_union
    from lakehouse_tools_spark.streaming.tws import (
        rocksdb_state_store,
        stateful_sessionize_tws,
        tws_runtime_ready,
    )

    if not tws_runtime_ready(spark):
        raise RuntimeError(
            "transformWithState runtime unavailable in this session"
        )
    stream = load_stream(spark, sf_dir, "events").select("user_id", "ts", "value")
    d = tempfile.mkdtemp(prefix="lts_scale_sessionize_tws_")
    try:
        withsent = flush_sentinel_union(
            stream,
            {"user_id": -1, "ts": datetime.datetime(2030, 1, 1), "value": 0.0},
            d,
        )
        sessions = stateful_sessionize_tws(
            X_win.with_watermark(withsent, "ts", "10 minutes"), gap_minutes=5
        )
        with rocksdb_state_store(spark):
            q = (
                sessions.writeStream.format("noop")
                .outputMode("append")
                .option("checkpointLocation", os.path.join(d, "_ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        spark.streams.resetTerminated()
    finally:
        shutil.rmtree(d, ignore_errors=True)


# flagship -> self-contained measured action; every other flagship is
# measured as queries()[name](spark, sf_dir) -> batch noop write
SCALE_VARIANTS = {
    "events_stream_sessionize": _sessionize_to_noop,
    "events_stream_sessionize_tws": _sessionize_tws_to_noop,
}


def _child(runs: int, flagships: list[str]) -> None:
    extra = {"spark.ui.showConsoleProgress": "false"}
    # SCALE_SHUFFLE_PARTITIONS=256 re-measures a curve at a different
    # partition knob — the documented local-sizing rule check
    # (SCALING.md "Sizing knobs": the 32 default is a local[32]
    # convenience, real deployments size 2-3x cores)
    sp = os.environ.get("SCALE_SHUFFLE_PARTITIONS")
    if sp:
        extra["spark.sql.shuffle.partitions"] = sp
    spark = get_session(app_name="scale_bench", extra_confs=extra)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs = E.queries()
    points = [(lb, d) for lb, d in POINTS if os.path.isdir(d) or os.path.exists(d)]
    # SCALE_POINTS=sf5[,sf10] re-measures specific points only — the
    # r09 splice workflow: one owed point re-attempted in a healthy
    # window costs one point, not a 5-point curve. Exponents between
    # the measured points are still decade-normalized (the `decades`
    # map), so a two-point subset reports a correctly-scaled segment;
    # a one-point subset reports seconds + brackets only.
    pt_subset = os.environ.get("SCALE_POINTS")
    if pt_subset:
        want = {p.strip() for p in pt_subset.split(",")}
        points = [(lb, d) for lb, d in points if lb in want]
    out: dict[str, dict] = {}
    def _measure(name: str, sf_dir: str) -> float:
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            if name in SCALE_VARIANTS:
                SCALE_VARIANTS[name](spark, sf_dir)
            else:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            best = min(best, time.time() - t0)
        # per-POINT cache isolation: a point's per-call persists
        # (materialized by run 1, reused warm by runs 2..N) must
        # not squat in storage memory while larger points run
        spark.catalog.clearCache()
        return best

    for name in flagships:
        times = {}
        brackets: dict[str, dict] = {}
        for label, sf_dir in points:
            # per-POINT sentinel bracketing (VERDICT r07 item 1): the
            # host window can shift MID-sweep, so a start-of-sweep
            # sentinel alone cannot certify any single point. A point
            # whose pre/post quick probes disagree >1.3x is REJECTED
            # and re-measured (up to 3 attempts); a point that never
            # brackets clean is recorded contaminated=true and must
            # not be spliced into a table of record.
            pre = HS.probe_quick()
            best = _measure(name, sf_dir)
            post = HS.probe_quick()
            attempts = 1
            while not HS.brackets_agree(pre, post) and attempts < 3:
                pre = HS.probe_quick()
                best = _measure(name, sf_dir)
                post = HS.probe_quick()
                attempts += 1
            times[label] = round(best, 3)
            brackets[label] = {
                "pre": pre,
                "post": post,
                "attempts": attempts,
                "contaminated": not HS.brackets_agree(pre, post),
            }
        rec = {"sec": times, "brackets": brackets}
        labels = [lb for lb, _ in points if lb in times]
        decades = {
            "sf0.01": -2.0,
            "sf0.1": -1.0,
            "sf1": 0.0,
            "sf5": math.log10(5),
            "sf10": 1.0,
        }
        for lo, hi in zip(labels, labels[1:]):
            e = math.log10(times[hi] / times[lo]) / (decades[hi] - decades[lo])
            rec[f"exponent_{lo}_to_{hi}"] = round(e, 3)
        out[name] = rec
        print(f"# {name}: {rec}", file=sys.stderr)
    print(json.dumps({"runs": runs, "scaling": out}, indent=1))


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--force"]
    force = "--force" in sys.argv[1:] or os.environ.get("SCALE_FORCE") == "1"
    runs = int(argv[0]) if argv else 3
    # SCALE_FLAGSHIPS=a,b,c re-measures a subset (e.g. after a fix)
    # without paying for the full 14-curve sweep
    subset = os.environ.get("SCALE_FLAGSHIPS")
    flagships = subset.split(",") if subset else FLAGSHIPS
    if os.environ.get("SCALE_CHILD") == "1":
        _child(runs, flagships)
        return
    # parent: grade the host window FIRST (tools/host_sentinel.py) —
    # r07 caught a degraded-I/O window (cold reads 0.03-0.14 GB/s vs
    # 1.2 healthy) that inflated scan-heavy points up to ~4x with
    # 2-5x run variance; a sweep taken in such a window must not
    # become the table of record
    sentinel = {}
    try:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)), "host_sentinel.py"),
            ],
            stdout=subprocess.PIPE,
            text=True,
            timeout=300,
        )
        sentinel = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"# host sentinel: {sentinel}", file=sys.stderr)
    except Exception as exc:  # probe failure itself is advisory
        sentinel = {"error": str(exc)}
    # ADVICE r07: the "not-healthy sweeps must not become the table
    # of record" rule is now ENFORCED, not conventional — a degraded
    # or marginal start aborts the multi-hour sweep before it can
    # produce a contaminated table. --force (or SCALE_FORCE=1)
    # overrides for diagnostic runs; "no-fixture" proceeds (CPU-only
    # gate) since the per-point brackets still police the window.
    grade = sentinel.get("grade")
    if grade not in ("healthy", "no-fixture", None) and not force:
        print(
            f"# ABORT: host sentinel grade '{grade}' — a sweep started "
            "in this window must not become a table of record. Re-run "
            "in a healthy window, or pass --force for a diagnostic "
            "(non-record) sweep.",
            file=sys.stderr,
        )
        sys.exit(2)
    # one identically-warmed subprocess per flagship (see module
    # docstring — isolation is the methodology, not a knob)
    merged: dict[str, dict] = {}
    for name in flagships:
        env = dict(os.environ, SCALE_CHILD="1", SCALE_FLAGSHIPS=name)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(runs)],
            env=env,
            stdout=subprocess.PIPE,
            text=True,
        )
        if proc.returncode != 0:
            print(f"# {name}: child failed rc={proc.returncode}", file=sys.stderr)
            continue
        merged.update(json.loads(proc.stdout)["scaling"])
    print(
        json.dumps(
            {
                "runs": runs,
                "isolation": "process-per-flagship",
                "host_sentinel": sentinel,
                "scaling": merged,
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
