"""Conversation-structure validation: per-conversation invariants of
multi-turn agent transcripts.

The reference validates tables generically; the BASELINE input is
specifically multi-turn transcripts (conv_id, turn_idx, role, text, tool,
ts), whose semantic invariants no generic column/row check covers:

- ``contiguous``: turn_idx runs 0..n-1 with no gaps or repeats;
- ``opening_role``: the first turn is from an allowed opener
  (user/system by default);
- ``role_transition``: every adjacent (role -> role) pair is in the allowed
  transition set (assistant may hand to tool, tool returns to assistant,
  user and assistant alternate, system only leads);
- ``ts_monotonic``: timestamps never decrease as turn_idx increases;
- ``tool_role``: the tool column is populated iff role = 'tool'.

Spark-first: everything is ONE aggregation keyed by conv_id over
window-free expressions — per-conv min/max/count/count-distinct plus
transition checks via a lag-free self-describing trick: instead of a
windowed lag() (which would sort every conversation), adjacent-pair
violations are counted by joining the table to itself on
(conv_id, turn_idx + 1). That join is co-partitioned on conv_id — at
100 TB with the transcript table bucketed by conv_id it is shuffle-free;
AQE skew-join splits hot conversations.

Output (one row per failing conversation):
  (conv_id, n_turns, check, detail) — long format, one row per violated
  check, so downstream routing matches the lineage-table discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# allowed (prev_role -> next_role) edges; everything else is a violation
DEFAULT_TRANSITIONS = (
    ("system", "user"),
    ("user", "assistant"),
    ("assistant", "user"),
    ("assistant", "tool"),
    ("tool", "assistant"),
)

DEFAULT_OPENERS = ("user", "system")


def conversation_checks(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str | None = "tool",
    ts_col: str | None = "ts",
    transitions: tuple = DEFAULT_TRANSITIONS,
    openers: tuple = DEFAULT_OPENERS,
) -> DataFrame:
    """Long-format violation report; conversations passing every check
    emit nothing."""
    conv, turn, role = F.col(conv_col), F.col(turn_col), F.col(role_col)

    # per-conv scalar facts in one aggregate pass
    per_conv = df.groupBy(conv.alias("conv_id")).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct(turn).alias("n_distinct_turns"),
        F.min(turn).alias("min_turn"),
        F.max(turn).alias("max_turn"),
        F.min_by(role, turn).alias("first_role"),
        (
            F.count(
                F.when(
                    (role == "tool") != F.col(tool_col).isNotNull()
                    if tool_col
                    else F.lit(False),
                    1,
                )
            )
            if tool_col
            else F.lit(0).cast("long")
        ).alias("n_tool_mismatch"),
    )

    # adjacent pairs via equi-join on (conv, turn+1): co-partitioned on
    # conv_id, no window sort
    left = df.select(
        conv.alias("conv_id"),
        turn.alias("t"),
        role.alias("r_prev"),
        *( [F.col(ts_col).alias("ts_prev")] if ts_col else [] ),
    )
    right = df.select(
        conv.alias("conv_id"),
        (turn - 1).alias("t"),
        role.alias("r_next"),
        *( [F.col(ts_col).alias("ts_next")] if ts_col else [] ),
    )
    edge_ok = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in transitions
        ]
    )
    pairs = left.join(right, ["conv_id", "t"])
    bad_edge = ~F.array_contains(
        edge_ok, F.struct(F.col("r_prev").alias("a"), F.col("r_next").alias("b"))
    )
    pair_aggs = [
        F.count(F.when(bad_edge, 1)).alias("n_bad_transitions"),
    ]
    if ts_col:
        pair_aggs.append(
            F.count(
                F.when(F.col("ts_next") < F.col("ts_prev"), 1)
            ).alias("n_ts_regressions")
        )
    per_pairs = pairs.groupBy("conv_id").agg(*pair_aggs)

    j = per_conv.join(per_pairs, "conv_id", "left").fillna(
        0, ["n_bad_transitions"] + (["n_ts_regressions"] if ts_col else [])
    )

    checks = [
        (
            "contiguous",
            (F.col("min_turn") != 0)
            | (F.col("max_turn") != F.col("n_turns") - 1)
            | (F.col("n_distinct_turns") != F.col("n_turns")),
            F.concat(
                F.lit("turns ["),
                F.col("min_turn"),
                F.lit(".."),
                F.col("max_turn"),
                F.lit("] count "),
                F.col("n_turns"),
            ),
        ),
        (
            "opening_role",
            ~F.col("first_role").isin(*openers),
            F.concat(F.lit("opens with "), F.col("first_role")),
        ),
        (
            "role_transition",
            F.col("n_bad_transitions") > 0,
            F.concat(
                F.col("n_bad_transitions"), F.lit(" disallowed transition(s)")
            ),
        ),
    ]
    if tool_col:
        checks.append(
            (
                "tool_role",
                F.col("n_tool_mismatch") > 0,
                F.concat(
                    F.col("n_tool_mismatch"),
                    F.lit(" row(s) where tool presence != (role = 'tool')"),
                ),
            )
        )
    if ts_col:
        checks.append(
            (
                "ts_monotonic",
                F.col("n_ts_regressions") > 0,
                F.concat(
                    F.col("n_ts_regressions"), F.lit(" timestamp regression(s)")
                ),
            )
        )

    melted = j.select(
        "conv_id",
        "n_turns",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check"),
                        cond.alias("failed"),
                        detail.cast("string").alias("detail"),
                    )
                    for name, cond, detail in checks
                ]
            )
        ).alias("c"),
    )
    return melted.filter(F.col("c.failed")).select(
        "conv_id",
        "n_turns",
        F.col("c.check").alias("check"),
        F.col("c.detail").alias("detail"),
    )


def loop_detection(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    min_run: int = 2,
) -> DataFrame:
    """Stuck-agent loop detector: find conversations where consecutive
    turns repeat the same (role, text) verbatim — the classic failure mode
    of an agent re-emitting the identical message/tool call in a loop.
    No generic column or row validation in the reference catches this; it
    is a transcript-semantic invariant like conversation_checks.

    Plan: gaps-and-islands over a window PARTITIONED BY conv_id ORDERED BY
    turn_idx (bounded by conversation length — never a global sort). A
    turn is a repeat when (role, text) matches the previous turn
    null-safely; islands are numbered by the running count of non-repeat
    anchors; run lengths come from one groupBy on (conv_id, island).
    Two linear shuffles on conv-keyed data — with the table bucketed by
    conv_id the window needs no exchange at 100 TB, and hot conversations
    are bounded by max conversation length, not corpus size.

    Output (one row per conversation containing at least one run of
    ``min_run`` identical consecutive turns):
      (conv_id, n_turns, n_loop_runs, max_run_len, n_repeat_turns)
    ordered by conv_id.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    flagged = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).alias("turn_idx"),
        F.col(role_col).alias("r"),
        F.col(text_col).alias("x"),
    ).select(
        "conv_id",
        "turn_idx",
        (
            F.col("r").eqNullSafe(F.lag("r").over(w))
            & F.col("x").eqNullSafe(F.lag("x").over(w))
        ).alias("is_rep"),
    )
    # island id = running count of non-repeat anchors (first row's NULL
    # is_rep is an anchor too)
    island = F.sum(F.when(F.col("is_rep"), 0).otherwise(1)).over(w)
    runs = (
        flagged.withColumn("island", island)
        .groupBy("conv_id", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    per_conv = runs.groupBy("conv_id").agg(
        F.sum("run_len").cast("long").alias("n_turns"),
        F.count(F.when(F.col("run_len") >= min_run, 1)).alias("n_loop_runs"),
        F.max("run_len").cast("long").alias("max_run_len"),
        F.sum(
            F.when(F.col("run_len") >= 2, F.col("run_len") - 1).otherwise(0)
        )
        .cast("long")
        .alias("n_repeat_turns"),
    )
    return per_conv.filter(F.col("max_run_len") >= min_run).orderBy(
        "conv_id"
    )


def role_transition_matrix(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Empirical Markov transition matrix over roles: for every adjacent
    turn pair within a conversation (under the stable turn_idx order the
    BASELINE invariant mandates), count (prev_role -> next_role) edges and
    the row-normalized transition probability.

    Same scale shape as conversation_checks: adjacent pairs come from the
    equi-join on (conv_id, turn_idx + 1) — co-partitioned on conv_id
    (shuffle-free with the table bucketed by conv_id, AQE splits hot
    conversations), NO per-conversation window sort. The matrix itself is
    a groupBy over at most |roles|^2 cells, so the second aggregation is
    trivially broadcast-sized; the probability denominator reuses those
    cells via a window over prev_role (|roles|^2 rows, not the corpus).

    Output: (prev_role, next_role, n_pairs, p 6dp) ordered by
    (prev_role, next_role).
    """
    from pyspark.sql import Window

    conv, turn, role = F.col(conv_col), F.col(turn_col), F.col(role_col)
    left = df.select(
        conv.alias("conv_id"), turn.alias("t"), role.alias("prev_role")
    )
    right = df.select(
        conv.alias("conv_id"), (turn - 1).alias("t"), role.alias("next_role")
    )
    cells = (
        left.join(right, ["conv_id", "t"])
        .groupBy("prev_role", "next_role")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    tot = F.sum("n_pairs").over(Window.partitionBy("prev_role"))
    return cells.select(
        "prev_role",
        "next_role",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(F.col("n_pairs") / tot, 6).alias("p"),
    ).orderBy("prev_role", "next_role")


def role_sequence_anomaly(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Sequence-level anomaly score: each conversation's role sequence is
    scored under the corpus's own empirical Markov transition model — the
    per-conversation generalization of role_transition_matrix (that emits
    the model; this asks "which conversations is the model most surprised
    by?"). avg_nll = mean over the conversation's adjacent (prev -> next)
    edges of -ln P(next | prev); max_nll is its rarest single edge. High
    scores surface structurally unusual conversations (bot loops, replay
    artifacts, scraped non-dialogue) without any labeled rule set.

    Plan: adjacent pairs via the (conv, turn+1) equi-join, aggregated
    ONCE to the (conv, prev, next) cell frame, which is persisted — it
    feeds both the model aggregation and the scoring join, and without
    the persist the O(rows) pair subtree would execute twice (the
    crossJoin-totals lesson; same multi-consumer pattern as
    split_balance). The model is |roles|^2 rows with its denominator as
    a window sum over that tiny frame; scoring joins it back BROADCAST,
    so the corpus-sized side never shuffles again.

    Output: (conv_id, n_pairs, avg_nll 6dp, max_nll 6dp) for EVERY
    conversation with at least one adjacent pair, ordered by conv_id —
    thresholding is the caller's policy (round-trips through
    metric_anomalies or a plain filter).
    """
    from pyspark.sql import Window

    conv, turn, role = F.col(conv_col), F.col(turn_col), F.col(role_col)
    left = df.select(
        conv.alias("conv_id"), turn.alias("t"), role.alias("prev_role")
    )
    right = df.select(
        conv.alias("conv_id"), (turn - 1).alias("t"), role.alias("next_role")
    )
    cc = (
        left.join(right, ["conv_id", "t"])
        .groupBy("conv_id", "prev_role", "next_role")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    w_prev = Window.partitionBy("prev_role")
    model = (
        cc.groupBy("prev_role", "next_role")
        .agg(F.sum("cnt").alias("n_edge"))
        .select(
            "prev_role",
            "next_role",
            (F.col("n_edge") / F.sum("n_edge").over(w_prev)).alias("p"),
        )
    )
    scored = cc.join(F.broadcast(model), ["prev_role", "next_role"])
    nll = -F.log(F.col("p"))
    return (
        scored.groupBy("conv_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_pairs"),
            F.round(F.sum(F.col("cnt") * nll) / F.sum("cnt"), 6).alias(
                "avg_nll"
            ),
            F.round(F.max(nll), 6).alias("max_nll"),
        )
        .orderBy("conv_id")
    )


def conv_redundancy(
    df: DataFrame,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    min_repeats: int = 2,
) -> DataFrame:
    """Within-conversation redundancy profile: how much of a conversation
    is repeated (role, text) content ANYWHERE in the conversation — the
    non-adjacent complement of loop_detection (which only sees consecutive
    runs and so misses alternating loops like A-B-A-B, a common two-agent
    ping-pong failure).

    redundancy = 1 - n_distinct / n_turns (0 = all unique);
    max_repeats = occurrences of the single most repeated (role, text).

    Plan: ONE aggregation to the (conv, role, text-hash) cell frame — the
    text leaves the scan as an 8-byte xxhash64 (the binary-hash-through-
    the-shuffle lesson from row_hash_violations; a profiling COUNT needs
    grouping equality, not cryptographic collision resistance), so the
    shuffle never carries payloads — then one conv-keyed rollup. Both
    shuffles key on conv_id (+hash), so bucketing by conv_id co-locates
    the first and AQE splits hot conversations.

    Output (conversations whose most-repeated turn occurs >= ``min_repeats``
    times): (conv_id, n_turns, n_distinct, redundancy 6dp, max_repeats),
    ordered by conv_id.
    """
    cells = df.groupBy(
        F.col(conv_col).alias("conv_id"),
        F.xxhash64(
            F.concat_ws(
                "\x01",
                F.coalesce(F.col(role_col), F.lit("\x00NULL")),
                F.coalesce(F.col(text_col), F.lit("\x00NULL")),
            )
        ).alias("h"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per_conv = cells.groupBy("conv_id").agg(
        F.sum("cnt").cast("long").alias("n_turns"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("cnt").cast("long").alias("max_repeats"),
    )
    return (
        per_conv.select(
            "conv_id",
            "n_turns",
            "n_distinct",
            F.round(1 - F.col("n_distinct") / F.col("n_turns"), 6).alias(
                "redundancy"
            ),
            "max_repeats",
        )
        .filter(F.col("max_repeats") >= min_repeats)
        .orderBy("conv_id")
    )


def transition_drift(
    src: DataFrame,
    tgt: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Role-transition-matrix drift between two transcript corpora: does
    the *structure* of conversations differ, not just the role marginals?
    (drift_psi_role / drift_jsd_role compare P(role); this compares the
    conditional P(next_role | prev_role), which catches e.g. a target
    corpus where assistants suddenly call tools twice as often even though
    overall role frequencies are unchanged.)

    Per (prev_role, next_role) cell: per-side adjacent-pair counts, the
    conditional probabilities, and two drift rollups —
    ``tvd_prev`` = total-variation distance between the two conditional
    next-role distributions of that prev_role (0.5 * sum |p_s - p_t|, in
    [0, 1]; a prev_role seen on only one side scores 0.5 by the p=0
    convention), and ``w_drift`` = the matrix-level drift: tvd_prev
    averaged over prev_roles weighted by the SOURCE corpus's share of
    pairs (prev_roles absent from the source get weight 0).

    Plan shape: one (conv, turn+1) co-partitioned self-join + one
    groupBy per corpus (each corpus scanned exactly once), union of the
    two <= |roles|^2-row cell frames, then every total/probability/drift
    is a window over that k-row frame — the crossJoin-totals lesson: no
    duplicated aggregation subtrees, no second O(rows) pass. At 100 TB
    with transcripts bucketed by conv_id the pair joins are
    exchange-free and the only corpus-sized shuffle is the map-side
    combined cell aggregation.

    Output ordered by (prev_role, next_role):
    (prev_role, next_role, n_source, n_target, p_source 6dp, p_target
    6dp, tvd_prev 6dp, w_drift 6dp).
    """

    def _cells(df: DataFrame) -> DataFrame:
        conv, turn, role = F.col(conv_col), F.col(turn_col), F.col(role_col)
        left = df.select(
            conv.alias("conv_id"), turn.alias("t"), role.alias("prev_role")
        )
        right = df.select(
            conv.alias("conv_id"), (turn - 1).alias("t"),
            role.alias("next_role"),
        )
        return (
            left.join(right, ["conv_id", "t"])
            .groupBy("prev_role", "next_role")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    zero = F.lit(0).cast("long")
    u = (
        _cells(src)
        .select(
            "prev_role", "next_role",
            F.col("n").alias("n_source"), zero.alias("n_target"),
        )
        .unionByName(
            _cells(tgt).select(
                "prev_role", "next_role",
                zero.alias("n_source"), F.col("n").alias("n_target"),
            )
        )
        .groupBy("prev_role", "next_role")
        .agg(
            F.sum("n_source").cast("long").alias("n_source"),
            F.sum("n_target").cast("long").alias("n_target"),
        )
    )
    w_prev = Window.partitionBy("prev_role")
    w_all = Window.partitionBy()
    tot_s_prev = F.sum("n_source").over(w_prev)
    tot_t_prev = F.sum("n_target").over(w_prev)
    stage1 = u.select(
        "prev_role", "next_role", "n_source", "n_target",
        F.when(tot_s_prev > 0, F.col("n_source") / tot_s_prev)
        .otherwise(F.lit(0.0)).alias("_ps"),
        F.when(tot_t_prev > 0, F.col("n_target") / tot_t_prev)
        .otherwise(F.lit(0.0)).alias("_pt"),
        tot_s_prev.alias("_tsp"),
    )
    stage2 = stage1.select(
        "*",
        (0.5 * F.sum(F.abs(F.col("_ps") - F.col("_pt"))).over(w_prev)).alias(
            "_tvd_prev"
        ),
        F.sum("n_source").over(w_all).alias("_gs"),
    )
    # w_drift = sum over prev of (prev's source-pair share * tvd_prev)
    #         = sum over CELLS of share(prev) * 0.5 * |p_s - p_t|
    w_drift = F.sum(
        (F.col("_tsp") / F.col("_gs")) * 0.5
        * F.abs(F.col("_ps") - F.col("_pt"))
    ).over(w_all)
    return (
        stage2.select(
            "prev_role", "next_role", "n_source", "n_target",
            F.round("_ps", 6).alias("p_source"),
            F.round("_pt", 6).alias("p_target"),
            F.round("_tvd_prev", 6).alias("tvd_prev"),
            F.round(w_drift, 6).alias("w_drift"),
        )
        .orderBy("prev_role", "next_role")
    )


def context_budget_overflow(
    df: DataFrame,
    budget: int,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Context-window budget validation: replaying each conversation in
    stable turn order, at which turn does the cumulative prompt cost (the
    BPE-estimate token cost of every turn so far) first exceed ``budget``?
    Conversations that never overflow emit nothing — the violation-rows
    discipline shared by every check in this module. The training-pipeline
    use is sizing: turns_within_budget is exactly how much of the
    conversation survives a ``budget``-token context truncation.

    Plan shape: the per-turn cost is a JVM-side array fold (text.bpe_cost
    — no Python); the running total is ONE window partitioned by conv_id
    (sort bounded by conversation length, never global); the verdict is
    one conv-keyed aggregate. At 100 TB with transcripts bucketed by
    conv_id both the window and the groupBy are exchange-free, and the
    window state is O(1) per conversation.

    Output ordered by conv_id: (conv_id, n_turns, total_tokens,
    overflow_turn_idx = the first turn whose running total crosses the
    budget, turns_within_budget).
    """
    from .text import bpe_cost

    per_turn = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).alias("turn_idx"),
        bpe_cost(F.col(text_col)).alias("cost"),
    )
    # ADVICE r3: order by (turn_idx, cost) — with duplicate turn_idx values
    # the intra-tie row order would otherwise be nondeterministic and
    # turns_within_budget could vary run-to-run. Cost as the tiebreaker
    # makes the running-sum SEQUENCE deterministic (equal turn_idx + equal
    # cost rows are interchangeable in a prefix sum), and the DuckDB oracle
    # applies the identical ordering.
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "cost")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_turn.withColumn("cum", F.sum("cost").over(w))
    over = F.col("cum") > F.lit(int(budget))
    return (
        cum.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum("cost").cast("long").alias("total_tokens"),
            F.min(F.when(over, F.col("turn_idx"))).alias(
                "overflow_turn_idx"
            ),
            F.count(F.when(~over, F.lit(1))).cast("long").alias(
                "turns_within_budget"
            ),
        )
        .filter(F.col("overflow_turn_idx").isNotNull())
        .orderBy("conv_id")
    )
