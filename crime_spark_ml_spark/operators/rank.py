"""Distributed exact global ranking — no single-partition window.

A bare ``row_number() OVER (ORDER BY ...)`` funnels the whole relation
through one task; at 100 TB that is the canonical scale-killer. This
module holds the shared range-partitioned alternative used by label
encoding (SURVEY.md §2.4 E1, reference crime.py:38-39), WoE binning,
Gini ranking, and the group-sequential look assignment. Row numbers
and running sums are one mechanism (a row number is the running sum of
``lit(1)``):

    repartitionByRange on (group, order) (ascending key ranges land in
    ascending partition ids) -> running sums within each (partition,
    group) in parallel -> localCheckpoint -> collect the per-(partition,
    group) totals -> driver-side prefix sum per group -> add each row's
    offset as a literal expression, ``CASE WHEN <group> <=> key THEN
    element_at(<offsets by partition>, __pid + 1)``.

The offsets never become a table, so the output plan is the checkpoint
scan plus a projection: no join, and the planner's size estimate of the
result stays that of the ranked rows. The only collect is
#partitions × #groups totals, so the pattern survives any corpus size
as long as the groups are FEW; the order columns must form a
deterministic TOTAL order (include a unique tie-break key), which every
caller needs anyway for engine-parity determinism.
"""

from __future__ import annotations

import functools
import itertools
import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _pid_cumsums(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    sums: dict[str, Column | str],
) -> DataFrame:
    """The LAZY frame :func:`_prefix_offsets` checkpoints: range-partition
    on (group, order), tag ``__pid``, then the running sum of each
    ``sums`` value (``{out: value column}``) within each (partition,
    group). Separate so tests can lint the pre-checkpoint plan (after
    ``localCheckpoint`` the Window node no longer appears)."""
    gcols = [F.col(c) for c in group_cols]
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = df.repartitionByRange(*gcols, *ocols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid", *gcols)
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ranged.withColumns({o: F.sum(v).over(w) for o, v in sums.items()})


def _prefix_offsets(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    sums: dict[str, Column | str],
) -> tuple[DataFrame, dict[tuple, list]]:
    """Exact running totals of each ``sums`` value (``{out: value
    column}``) over ``order_cols`` within each group, and the per-group
    grand totals (``{group key tuple: [total per out]}``)."""
    # localCheckpoint: the frame is consumed TWICE (totals collect, then
    # the caller's action) and shuffle outputs are not reused across
    # separate query executions — without materialization every call
    # re-runs the input lineage end-to-end, and a caller chaining k
    # rankings (j_rfm_segmentation) would recompute its rollup k+1
    # times. Checkpoint, NOT persist(): persist pins the plan in the
    # session CacheManager until an explicit unpersist (which a helper
    # returning a lazy frame cannot issue), so a long-lived session
    # running many registry queries accumulates pinned corpus-sized
    # caches; checkpointed blocks are instead freed by the
    # ContextCleaner once the caller drops the returned frame.
    # Trade-off (same as dedup.py's CC loop): blocks are not
    # fault-tolerant to executor loss — a lost executor fails the job,
    # which re-runs deterministically.
    cum = _pid_cumsums(df, group_cols, order_cols, sums).localCheckpoint(eager=True)
    totals = (
        cum.groupBy("__pid", *group_cols)
        .agg(*[F.sum(v) for v in sums.values()])
        .collect()
    )
    n_pids = 1 + max((r[0] for r in totals), default=-1)
    ng = len(group_cols)
    # per group, per partition: its totals. A partition the group does
    # not reach adds 0, and so does a NULL total
    by_group: dict[tuple, dict[int, list]] = {}
    for r in totals:
        by_group.setdefault(tuple(r[1 : 1 + ng]), {})[r[0]] = [t or 0 for t in r[1 + ng :]]
    # per group, per output: the running offset of each partition (the
    # totals of the partitions before it), ending in the group's grand
    # total. Starting at int 0 keeps 0 + Decimal / 0 + float exact
    zeros = [0] * len(sums)
    offsets = {
        key: [
            list(itertools.accumulate((parts.get(p, zeros)[i] for p in range(n_pids)), initial=0))
            for i in range(len(sums))
        ]
        for key, parts in by_group.items()
    }
    dtypes = dict(cum.dtypes)
    # NULL-safe (<=>): window partitionBy semantics, which these helpers
    # replace, give a NULL group key its own partition
    matches = {
        key: functools.reduce(
            operator.and_,
            [F.col(c).eqNullSafe(F.lit(k).cast(dtypes[c])) for c, k in zip(group_cols, key)],
            F.lit(True),
        )
        for key in offsets
    }
    added = {}
    for i, out in enumerate(sums):
        # offsets carry the running sum's type (a long offset under a
        # double sum would truncate every later partition's total),
        # decimals at the top precision 38, which the output then keeps
        t = dtypes[out]
        if t.startswith("decimal"):
            t = f"decimal(38,{t.split(',')[1]}"
        offset = F.lit(None)
        for key, match in matches.items():
            by_pid = F.lit(offsets[key][i]).cast(f"array<{t}>")
            offset = F.when(match, F.element_at(by_pid, F.col("__pid") + 1)).otherwise(offset)
        added[out] = F.col(out) + offset
    grand = {key: [offs[-1] for offs in per_out] for key, per_out in offsets.items()}
    return cum.withColumns(added).drop("__pid"), grand


def global_row_number(
    df: DataFrame, order_cols: list, out_col: str = "__g"
) -> tuple[DataFrame, int]:
    """Append an exact 1-based global row number (``bigint``) over
    ``order_cols``.

    Returns ``(df + out_col, n_rows)`` — the total count falls out of
    the prefix sum for free, saving callers a second pass.
    """
    out, grand = _prefix_offsets(df, [], order_cols, {out_col: F.lit(1)})
    return out, grand.get((), [0])[0]


def ntile_sql(rank: str, n: int | str, k: int) -> str:
    """SQL expression for the exact ``NTILE(k)`` tile id of a 1-based
    rank — the closed form of the window function, shared by every
    plan that replaces an ntile window with a distributed rank
    (j_rfm_segmentation, dp_equidepth_hist2d, ev_uplift_qini): the
    first ``n % k`` tiles hold ``ceil(n/k)`` rows, the rest
    ``floor(n/k)``. ``rank``/``n`` may be integer literals or SQL
    expressions (e.g. a column name); all arithmetic is integer DIV,
    bit-identical to the window function. When ``n < k`` the ELSE
    branch would divide by small = 0, but ``m * big = n`` then covers
    every rank so CASE short-circuits past it (per-row lazy branches).
    """
    m = f"({n} % {k})"
    big = f"(({n} DIV {k}) + 1)"
    small = f"({n} DIV {k})"
    return (
        f"CAST(CASE WHEN {rank} <= {m} * {big}"
        f" THEN ({rank} - 1) DIV {big} + 1"
        f" ELSE {m} + ({rank} - {m} * {big} - 1) DIV {small} + 1"
        f" END AS INT)"
    )


def grouped_row_number(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    out_col: str = "__g",
) -> tuple[DataFrame, dict[tuple, int]]:
    """Exact 1-based row number (``bigint``) over ``order_cols`` WITHIN
    each group — the grouped twin of :func:`global_row_number`, for when
    the groups themselves are data-sized (a plain ``partitionBy(group)``
    window would funnel each whole group through one task).

    Returns ``(df + out_col, sizes)``: ``sizes`` maps each group key
    (a tuple of the ``group_cols`` values) to its exact row count.
    Callers should have FEW groups (e.g. a model/arm column): the
    offsets are one literal branch per group.
    """
    out, grand = _prefix_offsets(df, group_cols, order_cols, {out_col: F.lit(1)})
    return out, {key: totals[0] for key, totals in grand.items()}


def grouped_prefix_sums(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    sums: dict[str, str],
) -> DataFrame:
    """Exact running totals over ``order_cols`` within each group,
    without funneling a group through one task — the prefix-SUM twin
    of :func:`grouped_row_number`, for sequential-walk statistics
    (SPRT log-likelihood paths, CUSUM) whose groups are data-sized.

    ``sums`` maps value column -> output running-total column (pass a
    literal-1 column for a running count); each output carries the
    type ``F.sum`` gives its value column, a decimal at precision 38.

    Exactness contract: bit-identical to a ``partitionBy(group)``
    cumulative window for INTEGER and DECIMAL value columns (the
    engine's oracle-parity grade). For float/double columns the
    per-partition-total addition order differs from the row-ordered
    window sum, so results agree only to FP tolerance — a caller
    needing hash-parity on a floating column must rescale to
    integer/decimal first (every current caller is integer-valued).
    """
    out, _ = _prefix_offsets(
        df, group_cols, order_cols, {o: v for v, o in sums.items()}
    )
    return out
