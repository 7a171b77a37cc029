"""Distributed exact global ranking — no single-partition window.

A bare ``row_number() OVER (ORDER BY ...)`` funnels the whole relation
through one task; at 100 TB that is the canonical scale-killer. This
module holds the shared range-partitioned alternative used by label
encoding (SURVEY.md §2.4 E1, reference crime.py:38-39), WoE binning,
Gini ranking, and the group-sequential look assignment:

    repartitionByRange on the total order (ascending key ranges land in
    ascending partition ids) -> row_number within each partition in
    parallel -> driver-side prefix sum of the <=#partitions partition
    sizes -> broadcast the offsets back, built as a JVM LocalRelation
    (``sources.readers.local_frame``) so the join's build side never
    starts a Python worker.

The only collect is #partitions ints, so the pattern survives any
corpus size; the order columns must form a deterministic TOTAL order
(include a unique tie-break key), which every caller needs anyway for
engine-parity determinism.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.readers import local_frame


def _offset_join(
    ranked: DataFrame, offset_df: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Broadcast-join per-(partition, group) offsets back NULL-safely.

    A plain name-list equi-join is null-rejecting, so a NULL group key
    would silently DROP its rows — window ``partitionBy`` semantics
    (which these helpers advertise replacing) treat NULL as its own
    partition instead. eqNullSafe on every group column keeps them.
    """
    off = offset_df
    renames = {c: f"__k_{c}" for c in ["__pid", *group_cols]}
    for c, r in renames.items():
        off = off.withColumnRenamed(c, r)
    cond = functools.reduce(
        operator.and_,
        [ranked[c].eqNullSafe(off[r]) for c, r in renames.items()],
    )
    return ranked.join(F.broadcast(off), cond).drop(*renames.values())


def _sum_result_type(input_type: str) -> str:
    """The Spark SQL type ``F.sum`` yields for a column of ``input_type``
    — the offset columns must carry the SAME type or the broadcast
    offsets would truncate (a double total stored as long shifts every
    later partition's running sum)."""
    t = input_type.lower()
    if t in ("tinyint", "smallint", "int", "bigint", "long"):
        return "bigint"
    if t in ("float", "double"):
        return "double"
    if t.startswith("decimal"):
        # sum over decimal(p,s) widens precision; 38 is the ceiling
        scale = t.rstrip(")").split(",")[1] if "," in t else "0"
        return f"decimal(38,{scale})"
    raise ValueError(f"unsupported running-sum input type: {input_type}")


def _pid_ranked(df: DataFrame, order_cols: list, group_cols: list = ()) -> DataFrame:
    """The LAZY per-partition ranked frame both row-number helpers
    checkpoint: range-partition on (group, order), then row_number
    within each (partition, group) in parallel. Exposed separately so
    tests can lint the pre-checkpoint plan (after ``localCheckpoint``
    the Window node no longer appears in the returned frame's plan)."""
    gcols = [F.col(c) if isinstance(c, str) else c for c in group_cols]
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = df.repartitionByRange(*gcols, *ocols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid", *gcols).orderBy(*ocols)
    return ranged.withColumn("__r", F.row_number().over(w))


def global_row_number(
    df: DataFrame, order_cols: list, out_col: str = "__g"
) -> tuple[DataFrame, int]:
    """Append an exact 1-based global row number over ``order_cols``.

    Returns ``(df + out_col, n_rows)`` — the total count falls out of
    the prefix sum for free, saving callers a second pass. Internal
    ``__pid``/``__r``/``__off`` columns are dropped from the result.
    """
    # localCheckpoint: the ranked frame is consumed TWICE (sizes
    # collect, then the offset join the caller's action evaluates) and
    # shuffle outputs are not reused across separate query executions —
    # without materialization every call re-runs the input lineage
    # end-to-end, and a caller chaining k rankings (j_rfm_segmentation)
    # would recompute its rollup k+1 times. Checkpoint, NOT persist():
    # persist pins the plan in the session CacheManager until an
    # explicit unpersist (which a helper returning a lazy frame cannot
    # issue), so a long-lived session running many registry queries
    # accumulates pinned corpus-sized caches; checkpointed blocks are
    # instead freed by the ContextCleaner once the caller drops the
    # returned frame. Trade-off (same as dedup.py's CC loop): blocks
    # are not fault-tolerant to executor loss — a lost executor fails
    # the job, which re-runs deterministically.
    ranked = _pid_ranked(df, order_cols).localCheckpoint(eager=True)
    # per-partition sizes → prefix-sum offsets (≤ #partitions rows on the driver)
    sizes = sorted(
        (r["__pid"], r["n"])
        for r in ranked.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in sizes:
        offsets[pid] = acc
        acc += cnt
    offset_df = local_frame(
        df.sparkSession, offsets.items(), "__pid int, __off long"
    )
    out = (
        ranked.join(F.broadcast(offset_df), "__pid")
        .withColumn(out_col, F.col("__off") + F.col("__r"))
        .drop("__pid", "__r", "__off")
    )
    return out, acc


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
) -> DataFrame:
    """Exact 1-based row number over ``order_cols`` WITHIN each group —
    the grouped twin of :func:`global_row_number`, for when the groups
    themselves are data-sized (a plain ``partitionBy(group)`` window
    would funnel each whole group through one task).

    Range-partition on (group, order) so each partition holds
    contiguous runs; row_number within (partition, group) in parallel;
    collect the per-(partition, group) sizes (≤ #partitions × #groups
    rows — callers should have FEW groups, e.g. a model/arm column)
    and broadcast per-group prefix offsets back.
    """
    # checkpoint: double consumption, same rationale as global_row_number
    ranked = _pid_ranked(df, order_cols, group_cols).localCheckpoint(eager=True)
    sizes = (
        ranked.groupBy("__pid", *group_cols)
        .agg(F.count("*").alias("n"))
        .collect()
    )
    acc: dict[tuple, int] = {}
    rows = []
    for r in sorted(sizes, key=lambda r: (tuple(str(r[c]) for c in group_cols), r["__pid"])):
        key = tuple(r[c] for c in group_cols)
        rows.append((r["__pid"], *key, acc.get(key, 0)))
        acc[key] = acc.get(key, 0) + r["n"]
    schema_groups = ", ".join(
        f"{c} {dict(df.dtypes)[c]}" for c in group_cols
    )
    offset_df = local_frame(
        df.sparkSession, rows, f"__pid int, {schema_groups}, __off long"
    )
    return (
        _offset_join(ranked, offset_df, group_cols)
        .withColumn(out_col, F.col("__off") + F.col("__r"))
        .drop("__pid", "__r", "__off")
    )


def _pid_cumsums(
    df: DataFrame, group_cols: list[str], order_cols: list, sums: dict[str, str]
) -> DataFrame:
    """The LAZY per-partition cumulative-sum frame ``grouped_prefix_sums``
    checkpoints — exposed for plan-lint tests like :func:`_pid_ranked`."""
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
    cum = ranged
    for vcol, out in sums.items():
        cum = cum.withColumn(out, F.sum(vcol).over(w))
    return cum


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
    literal-1 column for a running count). Same machinery: range-
    partition on (group, order), cumulative sums within each
    (partition, group) in parallel, collect the per-(partition, group)
    TOTALS (≤ #partitions × #groups tiny rows), prefix them per group
    on the driver, broadcast the offsets back.

    Exactness contract: bit-identical to a ``partitionBy(group)``
    cumulative window for INTEGER and DECIMAL value columns (the
    engine's oracle-parity grade). For float/double columns the
    per-partition-total addition order differs from the row-ordered
    window sum, so results agree only to FP tolerance — a caller
    needing hash-parity on a floating column must rescale to
    integer/decimal first (every current caller is integer-valued).
    """
    # checkpoint: double consumption, same rationale as global_row_number
    cum = _pid_cumsums(df, group_cols, order_cols, sums).localCheckpoint(
        eager=True
    )
    totals = (
        cum.groupBy("__pid", *group_cols)
        .agg(*[F.sum(v).alias(f"__t_{o}") for v, o in sums.items()])
        .collect()
    )
    dtypes = dict(df.dtypes)
    outs = list(sums.values())
    # offsets start at int 0: 0 + Decimal / 0 + float stay exact, and
    # local_frame's Arrow build takes a plain 0 into double/decimal fields
    acc: dict[tuple, list] = {}
    rows = []
    for r in sorted(
        totals, key=lambda r: (tuple(str(r[c]) for c in group_cols), r["__pid"])
    ):
        key = tuple(r[c] for c in group_cols)
        offs = acc.get(key, [0] * len(outs))
        rows.append((r["__pid"], *key, *offs))
        acc[key] = [o + (r[f"__t_{out}"] or 0) for o, out in zip(offs, outs)]
    schema_groups = ", ".join(f"{c} {dtypes[c]}" for c in group_cols)
    schema_offs = ", ".join(
        f"__off_{o} {_sum_result_type(dtypes[v])}" for v, o in sums.items()
    )
    offset_df = local_frame(
        df.sparkSession, rows, f"__pid int, {schema_groups}, {schema_offs}"
    )
    out_df = _offset_join(cum, offset_df, group_cols)
    for o in outs:
        out_df = out_df.withColumn(o, F.col(o) + F.col(f"__off_{o}")).drop(
            f"__off_{o}"
        )
    return out_df.drop("__pid")
