"""Plan and data probes that only tests call: the shuffle-join exchange
count of a physical plan (the bucketed-table co-location checks) and a
per-key row-share profile (the skew fixtures)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def join_exchange_count(joined: DataFrame) -> int:
    """Number of shuffle exchanges feeding the plan's first shuffle join:
    2 = both sides shuffle (no co-location), 1 = one side pre-partitioned
    (the bucketed-index-vs-small-batch asymmetry incremental_dedup relies
    on), 0 = fully co-located. -1 when the plan has no shuffle join."""
    import re

    plan = joined._jdf.queryExecution().executedPlan().toString()
    # an executed AQE plan appends an "== Initial Plan ==" section that
    # re-prints the pre-adaptive tree — only the final plan is the verdict
    plan = plan.split("== Initial Plan ==", 1)[0]
    lines = plan.splitlines()
    join_at = next((i for i, ln in enumerate(lines)
                    if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln), None)
    if join_at is None:
        return -1

    # count only the JOIN'S OWN SUBTREE: tree printing is pre-order, so a
    # later sibling subtree of an ancestor (e.g. the second branch of a
    # union above the join) also prints after the join line — but at an
    # indent depth <= the join's, which is where the subtree ends. Plan
    # parents print ABOVE the join line, so exchanges layered on top of the
    # join (a groupBy on another key, an orderBy) never count.
    def depth(ln: str) -> int:
        return len(re.match(r"^[\s:+-]*", ln).group(0))

    d_join = depth(lines[join_at])
    n = 0
    for ln in lines[join_at + 1:]:
        if ln.strip() and depth(ln) <= d_join:
            break
        if "Exchange hashpartitioning" in ln:
            n += 1
    return n


def is_shuffle_free_join(joined: DataFrame) -> bool:
    """True when the plan's first shuffle-join (SortMergeJoin /
    ShuffledHashJoin) is fed by no shuffle exchange — the co-location probe
    the tests pin. Only the JOIN'S INPUTS count: physical plans print
    parents above children, so exchanges introduced by operators layered on
    top of the join (a groupBy on another key, an orderBy) appear BEFORE
    the join line and are ignored; exchanges feeding the join appear after
    it. Broadcast joins return False — they have no co-location question
    (nothing shuffles regardless of layout); this probe is specifically
    "did bucketing remove the shuffle from a shuffle join". AQE keeps
    exchanges visible in the final plan string when they exist, so absence
    is meaningful."""
    return join_exchange_count(joined) == 0


def skew_profile(df: DataFrame, key: str, top_n: int = 5) -> DataFrame:
    """Diagnostic: per-key share of rows for the heaviest keys."""
    total = df.count()
    return (df.groupBy(key).agg(F.count("*").alias("n"))
            .withColumn("share", F.round(F.col("n") / F.lit(float(total)), 4))
            .orderBy(F.desc("n")).limit(top_n))
