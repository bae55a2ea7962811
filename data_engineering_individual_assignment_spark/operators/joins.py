"""Joins Spark SQL lacks natively: the as-of (nearest-key) join and the
banded interval-overlap join.

``asof_join`` serves the GA nearest-date enrichment implied by the
reference's date-linked schema (SURVEY §4.3, DDL ``...final.py:87-111``)
and every as-of query in the catalog.  It is one declarative plan: a
union of both sides, one shuffle on the by-key and one sort, with zero
fan-out, so its cost does not depend on how many right rows precede
each left row.  A bucket-cogrouped ``pd.merge_asof`` twin with the same
output contract was measured slower at sf0.01, sf0.1, 10x and 100x and
was deleted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    left_by: str,
    right_by: str,
    *,
    tie_break: str | None = None,
    how: str = "left",
    right_cols: list[str] | None = None,
    tolerance: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the single nearest right row within
    the matching by-key — ``direction='backward'`` (default) picks the
    greatest ``right_ts`` <= ``left_ts``; ``'forward'`` picks the
    smallest ``right_ts`` >= ``left_ts`` (pandas ``merge_asof``
    directions; both inclusive at equality).  Null by-keys never match,
    as in SQL's ``ON r.by = l.by``, and null timestamps never match.

    ``tolerance`` (e.g. ``"30 DAYS"``): maximum staleness — a match
    older than ``left_ts - tolerance`` is treated as NO match (nulled
    under ``how='left'``, dropped under ``'inner'``), the kdb/pandas
    ``merge_asof(tolerance=...)`` semantics.  Applied after the carry,
    so it adds zero shuffles.

    ``right_cols`` prunes the right payload carried through the window
    (``None``: every right column) — at scale, carry only what you
    need.  An empty list is rejected: the join would add no column.

    Implementation is the union-merge carry-forward: tag both sides,
    union them, sort per by-key on (ts, side) with right rows first at
    equal timestamps, and carry the last non-null right payload forward
    with last(..., ignoreNulls) over an unbounded-preceding frame.  One
    shuffle + one sort, ZERO fan-out — per-key cost is O((|L|+|R|) log),
    independent of how many right rows precede each left row (a naive
    range-join + row_number pick is O(|L|·|R|) per key).

    ``tie_break``: right column that decides equal-``right_ts`` winners
    (backward: max tie_break at the max eligible ts; forward: min
    tie_break at the min eligible ts).  ``how='left'`` keeps unmatched
    left rows with null right columns; ``'inner'`` drops them.

    The forward direction is the SAME single-shuffle carry plan run in
    reverse scan order: sort each by-key descending on ts, and the
    last-non-null carry then holds the nearest FOLLOWING right row —
    no extra exchange, no plan change beyond the sort direction.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if right_cols is not None and not right_cols:
        raise ValueError("right_cols=[] adds no column; pass None for all")
    fwd = direction == "forward"
    needed = set(right_cols or right.columns) | {right_ts, right_by}
    if tie_break:
        needed.add(tie_break)
    # a null right_ts can never satisfy right_ts <= left_ts, so those rows
    # must not enter the carry-forward (nulls-first ordering would otherwise
    # make them eligible for every left row); a null right_by shares the
    # null __by partition with null-key left rows and must not match them
    right = right.filter(
        F.col(right_ts).isNotNull() & F.col(right_by).isNotNull()
    ).select(*[c for c in right.columns if c in needed])
    out_right_cols = right_cols or right.columns
    # carry the pruned right row as one struct so last(ignoreNulls) moves
    # all payload columns together.  The struct packs ONLY what is read
    # back out of it (guide §2.3 — it rides the union through the
    # exchange and the per-key window sort, so every field is shuffle +
    # sort payload): the output columns, tie_break even when right_cols
    # excludes it (the window orders by it), and right_ts only under
    # tolerance (the staleness check reads the CARRIED row's ts).
    # right_by is never packed — it always equals the __by column that
    # already travels beside the struct.
    struct_needed = set(out_right_cols)
    if tie_break:
        struct_needed.add(tie_break)
    if tolerance is not None:
        struct_needed.add(right_ts)
    struct_cols = [c for c in right.columns if c in struct_needed]
    r_tagged = right.select(
        F.col(right_by).alias("__by"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*struct_cols).alias("__r"),
    )
    l_tagged = left.select(
        F.col(left_by).alias("__by"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r_tagged.schema["__r"].dataType).alias("__r"),
        *[F.col(c) for c in left.columns],
    )
    unioned = r_tagged.select(
        "__by", "__ts", "__side", "__r",
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in left.columns],
    ).unionByName(l_tagged)

    # at equal ts: right rows (side 0) sort before left rows (side 1) in
    # SCAN order so same-timestamp right rows are eligible; among same-ts
    # right rows the winner must sort last in scan order (the carry keeps
    # the last non-null): backward = greatest tie_break, forward (scan
    # runs ts-descending) = smallest tie_break
    order = [F.col("__ts").desc() if fwd else F.col("__ts").asc(), F.col("__side").asc()]
    if tie_break:
        tb = F.col("__r").getField(tie_break)
        order.append(tb.desc_nulls_first() if fwd else tb.asc_nulls_first())
    w = (
        Window.partitionBy("__by")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn("__last_r", F.last("__r", ignorenulls=True).over(w))
    if tolerance is not None:
        gap = (
            F.col("__last_r").getField(right_ts) - F.col("__ts")
            if fwd
            else F.col("__ts") - F.col("__last_r").getField(right_ts)
        )
        stale = F.col("__last_r").isNotNull() & (gap > F.expr(f"INTERVAL {tolerance}"))
        carried = carried.withColumn(
            "__last_r",
            F.when(stale, F.lit(None).cast(r_tagged.schema["__r"].dataType)).otherwise(
                F.col("__last_r")
            ),
        )
    matched = carried.filter(F.col("__side") == 1)
    if how == "inner":
        matched = matched.filter(F.col("__last_r").isNotNull())
    return matched.select(
        *[F.col(c) for c in left.columns],
        *[F.col("__last_r").getField(c).alias(c) for c in out_right_cols],
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    band: int,
) -> DataFrame:
    """Banded interval-overlap join: all (left, right) pairs whose
    inclusive intervals ``[l_start, l_end]`` and ``[r_start, r_end]``
    overlap (``l_start <= r_end AND r_start <= l_end``).  Bounds are
    numeric (e.g. epoch-micros longs); column names must be disjoint
    across the two inputs.

    Scale design: a naive theta join is a broadcast-nested-loop —
    O(|L|*|R|) comparisons regardless of overlap density.  Banding maps
    each interval to the ``band``-sized buckets it touches (``explode
    (sequence(start div band, end div band))``), turns the join into an
    EQUI join on the bucket id (hash-partitionable, AQE-skew-splittable),
    and re-checks the exact predicate.  Each overlapping pair is emitted
    in exactly ONE bucket — the one containing the overlap's start,
    ``greatest(l_start, r_start) div band`` — so no distinct pass is
    needed.  Cost is O(touched buckets + true pairs); pick ``band``
    near the typical interval length so intervals touch O(1) buckets.

    Negative coordinates are correct but slightly unbalanced: ``div``
    truncates toward zero (not floor), so the bucket containing zero is
    2x wide.  Both the explode and the emit-once rule use the same
    monotone bucket function, so coverage and exactly-once emission
    hold for any sign; epoch-micros inputs are always positive anyway.
    """
    lb = left.withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.expr(f"{l_start} div {band}"), F.expr(f"{l_end} div {band}")
            )
        ),
    )
    rb = right.withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.expr(f"{r_start} div {band}"), F.expr(f"{r_end} div {band}")
            )
        ),
    )
    pairs = lb.join(rb, "__band").where(
        (F.col(l_start) <= F.col(r_end))
        & (F.col(r_start) <= F.col(l_end))
        # emit-once rule: only the bucket holding the overlap's start
        & (
            F.col("__band")
            == F.expr(f"greatest({l_start}, {r_start}) div {band}")
        )
    )
    return pairs.drop("__band")
