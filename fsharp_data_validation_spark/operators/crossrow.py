"""Cross-row constraints — the table-level checks the reference cannot
express (single-value library; §2.8 of SURVEY.md) but the north rule
requires: uniqueness, referential integrity, ordering.

Scale design (10^12 turns):
- uniqueness: hash aggregation with map-side partial combine — one shuffle on
  the key. Keys ``(conv_id, turn_idx)`` are near-unique, so per-group state is
  tiny; hot conv_ids do NOT skew this shuffle because turn_idx spreads them,
  and even a single flooded key is collapsed to one row per partition before
  the exchange (measured, BENCH.md "skew handling"), so it needs no salting.
- referential: the catalog is tiny — broadcast LEFT ANTI join, no shuffle of
  the fact side.
- ordering: per-conversation windows. Window partitions are bounded by the
  max conversation length (documented assumption), so no conv_id salting is
  needed for the window itself; AQE handles residual skew.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def uniqueness_violations(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Key groups with more than one row -> (keys..., n_dups)."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_dups"))
    return counts.filter(F.col("n_dups") > 1)


def referential_violations(
    df: DataFrame,
    fk_col: str,
    catalog: DataFrame,
    pk_col: str,
    out_cols: Sequence[str],
) -> DataFrame:
    """Rows whose non-NULL ``fk_col`` has no match in the catalog
    (hasElem-at-scale, Library.fs:97 -> broadcast LEFT ANTI join)."""
    cat = F.broadcast(catalog.select(F.col(pk_col).alias(fk_col)).distinct())
    return (
        df.filter(F.col(fk_col).isNotNull())
        .join(cat, on=fk_col, how="left_anti")
        .select(*out_cols)
    )


def ordering_violations(df: DataFrame) -> DataFrame:
    """Timestamp regressions against turn ordering: within a conversation
    ordered by ``(turn_idx, ts)`` (total order; ts breaks duplicate-turn
    ties deterministically), flag rows where turn_idx advanced but ts went
    backwards. ≅ lag-window re-expression of per-turn ordering invariants."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    lagged = df.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.lag("turn_idx").over(w).alias("_prev_idx"),
        F.lag("ts").over(w).alias("_prev_ts"),
    )
    return lagged.filter(
        (F.col("_prev_idx").isNotNull())
        & (F.col("turn_idx") > F.col("_prev_idx"))
        & (F.col("ts") < F.col("_prev_ts"))
    ).select(
        "conv_id",
        "turn_idx",
        F.col("ts"),
        F.col("_prev_ts").alias("prev_ts"),
    )


def conversation_flow_violations(df: DataFrame) -> DataFrame:
    """Structural conversation-flow validation — the cross-row shape of the
    reference's role-enum membership (Library.fs:97 ``hasElem``): the enum
    check constrains one turn's role, these constrain the SEQUENCE of roles.
    Flags, per turn, any of:

    - ``conversation_start``: the first turn's role is not
      system or user (a transcript must open with one of them);
    - ``consecutive_same_role``: a turn repeats the previous turn's role
      (turn-taking invariant);
    - ``orphan_tool_turn``: a ``tool`` turn not directly preceded by an
      ``assistant`` turn (tool results must answer an assistant call).

    Returns (conv, turn_idx, role, code); a turn can carry several codes.
    ONE window pass ordered by the total key (turn_idx, ts, role, text,
    tool) — ts alone can tie under injected duplicate turn indexes, and a
    lag comparison needs a total order to be deterministic on both engines
    — then a row-local code array + explode: one shuffle (zero on a
    conv_id-bucketed layout), output proportional to violations."""
    t = F.coalesce(F.col("text"), F.lit(""))
    o = F.coalesce(F.col("tool"), F.lit(""))
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts", "role", t, o)
    role = F.col("role")
    lagged = df.select(
        "conv_id",
        "turn_idx",
        "role",
        F.lag("role").over(w).alias("_prev_role"),
        F.row_number().over(w).alias("_rn"),
    )
    prev = F.col("_prev_role")
    codes = F.array(
        F.when(
            (F.col("_rn") == 1) & ~role.isin(["system", "user"]),
            F.lit("conversation_start"),
        ),
        F.when(prev.isNotNull() & (role == prev), F.lit("consecutive_same_role")),
        F.when(
            (role == F.lit("tool")) & (prev.isNull() | (prev != F.lit("assistant"))),
            F.lit("orphan_tool_turn"),
        ),
    )
    return lagged.select(
        "conv_id",
        "turn_idx",
        "role",
        F.explode(F.filter(codes, lambda c: c.isNotNull())).alias("code"),
    )


def context_budget_violations(df: DataFrame, budget: int) -> DataFrame:
    """Context-window budget validation: the running whitespace-token total
    of a conversation (ordered by turn) must stay within ``budget`` — the
    cross-row form of the reference's ``maxLength`` bound (Library.fs:80):
    maxLength constrains one value's size, this constrains the SUM of sizes
    along the conversation prefix. Flags every turn whose cumulative token
    count exceeds the budget: (conv, turn_idx, role, n_tokens, cum_tokens).

    Shape: one window pass per conversation — a single shuffle on conv_id
    (zero on a conv_id-bucketed layout); window state is bounded by max
    conversation length, not table size. The frame is an explicit ROWS
    running frame over the same total order as ``conversation_flow_violations``
    (turn_idx, ts, role, text, tool) so tie handling is engine-portable:
    fully-identical rows are the only possible ties, and their cum values
    form the same multiset under any tiebreak. Tokens are counted by
    ``operators/text.py:token_count_col`` (single-space split; NULL -> 0)."""
    t = F.coalesce(F.col("text"), F.lit(""))
    o = F.coalesce(F.col("tool"), F.lit(""))
    from .text import token_count_col

    n_tokens = token_count_col("text", "whitespace")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "ts", "role", t, o)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = df.select(
        "conv_id",
        "turn_idx",
        "role",
        n_tokens.alias("n_tokens"),
        F.sum(n_tokens).over(w).alias("cum_tokens"),
    )
    return with_cum.filter(F.col("cum_tokens") > budget)


def repeated_turns(df: DataFrame) -> DataFrame:
    """Intra-conversation loop detection: the same normalized turn text
    appearing 2+ times within ONE conversation — the signature
    of a stuck agent loop (and of copy-paste template turns). Distinct from
    corpus-level dedup (operators/dedup.py): the group key is
    (conversation, content), so a phrase common ACROSS conversations is not
    flagged.

    Returns (conv, text_digest, n_repeats, first_turn, last_turn). Shape:
    one hash aggregation on (conv, md5(lower(trim(text)))) with map-side
    combine — per-group state is O(1); skew is bounded by max conversation
    length, not corpus frequency, because the digest is scoped to the
    conversation. Empty/NULL text is excluded (emptiness is the row suite's
    ``isNotNull`` job — Library.fs:62-67)."""
    norm = F.lower(F.trim(F.col("text")))
    return (
        df.filter(F.col("text").isNotNull() & (F.trim(F.col("text")) != ""))
        .groupBy(
            F.col("conv_id"),
            F.md5(norm).alias("text_digest"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_repeats"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .filter(F.col("n_repeats") >= 2)
    )
