"""Event-sequence analytics: Markov transition matrices.

The reference's notebook surface has no sequence operators; this is
part of the event-analytics extension (SURVEY §2.11) alongside
funnels and retention: given per-entity ordered event streams, how
does state t condition state t+1? The transition matrix is the
input to session-flow dashboards, next-event prediction baselines,
and anomaly detection on behavioral drift.

Execution shape: ONE window sort per entity key (the same exchange
every per-key sequence operator pays), a ``lead`` projection to form
(state, next_state) pairs, then a states×states-sized aggregate.
Row probabilities come from a window sum over ``from_state`` — the
state alphabet is small, so that second exchange moves only the
counts relation, never the events. Nothing collects; output is
alphabet², independent of input volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def transition_matrix(
    df: DataFrame,
    key_col: str,
    state_col: str,
    order_cols: list[str],
) -> DataFrame:
    """(from_state, to_state, n, p) for consecutive state pairs within
    each ``key_col`` sequence ordered by ``order_cols``.

    ``order_cols`` must be a deterministic total order within a key
    (include a unique tiebreaker column — ties would make ``lead``
    nondeterministic). A key's last event has no successor and
    contributes no pair. ``p`` is the row-conditional probability
    ``n / Σ n over from_state`` as an exact-integer-derived double.
    """
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    nxt = F.lead(F.col(state_col)).over(w)
    pairs = (
        df.select(
            F.col(state_col).alias("from_state"), nxt.alias("to_state")
        )
        .filter(F.col("to_state").isNotNull())
    )
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wrow = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(wrow).cast("double")
        ).alias("p"),
    )


def pattern_match(
    df: DataFrame,
    key_col: str,
    state_col: str,
    order_cols: list[str],
    pattern: str,
    tokens: dict[str, str],
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: count regex ``pattern`` occurrences in
    each key's ordered state sequence.

    Each state is mapped to a single-character token via ``tokens``
    (states absent from the map are dropped from the sequence — the
    usual "define only the pattern alphabet" semantics), the key's
    events are concatenated in ``order_cols`` order into one token
    string, and ``pattern`` (an ordinary regex over the token
    alphabet, e.g. ``v[cv]*p`` = "view, any clicks/re-views, then
    purchase") is counted non-overlapping left-to-right — the same
    scan order every MATCH_RECOGNIZE engine uses for ``AFTER MATCH
    SKIP PAST LAST ROW``.

    Output: ``(key, n_events, n_matches, matched)`` — one row per
    key that has at least one tokenized event. ``order_cols`` must be
    a deterministic total order within a key (include a unique
    tiebreaker) and must be NON-NULL on every tokenized row: a row
    with no position has no place in a total order, and engines
    disagree on where NULL keys sort (Spark's ``sort_array`` puts
    them FIRST, ANSI ``ORDER BY`` defaults LAST) — so rows with a
    NULL order key are EXCLUDED from the sequence and from
    ``n_events``, the same exclusion both engines then agree on.

    Execution shape: project to (key, order..., token) FIRST — the
    single shuffle moves only those narrow rows — then ONE groupBy
    building the per-key sequence with ``sort_array(collect_list(
    struct(order..., token)))`` (partial-aggregated map-side), and a
    JVM-side ``regexp_count`` on the joined string. No window sort,
    no Python.

    Scale contract: the per-key SEQUENCE is the operator's state —
    identical to any sequence-pattern engine. Keys are assumed
    human/session-scale (thousands of events, not billions); for
    unbounded keys, key on (key, session ordinal) — the running sum
    of a ``lag`` gap flag over the key's time order — so state stays
    bounded by the session, not the key's lifetime.
    """
    tok = None
    for state, t in tokens.items():
        if len(t) != 1:
            raise ValueError(f"token for {state!r} must be one char, got {t!r}")
        branch = F.when(F.col(state_col) == F.lit(state), F.lit(t))
        tok = branch if tok is None else tok.when(
            F.col(state_col) == F.lit(state), F.lit(t)
        )
    order_complete = F.lit(True)
    for c in order_cols:
        order_complete = order_complete & F.col(c).isNotNull()
    slim = (
        df.select(
            F.col(key_col).alias("key"),
            *[F.col(c) for c in order_cols],
            tok.alias("_tok"),
        )
        .filter(F.col("_tok").isNotNull() & order_complete)
    )
    seq = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(*[F.col(c) for c in order_cols], F.col("_tok"))
                )
            ),
            lambda s: s["_tok"],
        ),
        "",
    )
    n_matches = F.regexp_count(F.col("_seq"), F.lit(pattern)).cast("long")
    return (
        slim.groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            seq.alias("_seq"),
        )
        .select(
            "key",
            "n_events",
            n_matches.alias("n_matches"),
            (F.regexp_count(F.col("_seq"), F.lit(pattern)) > 0).alias(
                "matched"
            ),
        )
    )
