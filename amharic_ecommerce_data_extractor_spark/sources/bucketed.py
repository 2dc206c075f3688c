"""Bucketed catalog tables — co-located joins without per-query shuffles.

The user is the incremental dedup index (``operators/incremental.py``
``DedupIndex``): its three fingerprint tables are joined against every new
batch on their keys. Unbucketed, every such join pays a full shuffle of
both sides PER BATCH; bucketing pays the index side's shuffle ONCE at
write time and every later batch joins against it with no exchange on
that side:

* both sides written with ``bucketBy(N, key)`` and the SAME N → Catalyst
  plans a SortMergeJoin whose children are bucketed scans, no
  ShuffleExchange on either side (pinned by tests/test_bucketed.py);
* ``groupBy(key)`` on a bucketed table likewise skips its exchange
  (bucketing IS hash partitioning, persisted);
* point lookups on the bucket key prune to 1/N of the files (bucket
  pruning), the same serving trick as the IVF cell layout.

Bucketing requires a catalog table (``saveAsTable``) — a bare
``parquet(path)`` write silently drops the bucket spec, and so does a path
read: read the table back with ``spark.table``. That is a Spark
limitation, not a choice. On a real deployment the same call lands on the
Iceberg/Hive catalog (Iceberg: ``bucket(N, key)`` partition transform); in
the sandbox it uses the session's local warehouse dir.

Sizing rule: N_buckets ≈ table_size / target_file_size (128–512 MB per
bucket file per partition); both join sides MUST use the same N (Spark does
not yet join compatible multiples without a shuffle on one side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int, sort_cols: list[str] | None = None,
                   fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Write df as a bucketed catalog table (one shuffle now, none later).

    sort_cols: optional ``sortBy`` within buckets — lets the downstream
    SortMergeJoin skip its sort too (scan → merge directly), and keeps
    min/max file statistics tight for the bucket key."""
    w = df.write.format(fmt).mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


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
