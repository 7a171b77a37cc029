"""Label encoding — the reference's core column transform.

Semantics: sklearn ``LabelEncoder`` per column (reference crime.py:38-39
``d = defaultdict(LabelEncoder); sf.apply(lambda x: d[x.name].fit_transform(x))``
and per-column at crime.py:111-120): dense integer codes 0..n-1 assigned
in **lexicographically ascending** order of the distinct values
(sklearn uses ``np.unique``).

Scale design: a global ``dense_rank`` window over the full table would
funnel every row through one partition. Instead we build the
dictionaries from DISTINCT values, and rank them WITHOUT a global
window. The requested columns are grouped by dtype, and each group is
unpivoted into one ``(column, value)`` frame and ranked in ONE
range-partitioned pass (``rank.grouped_row_number`` grouped by the
column name): ascending value ranges land in ascending partition ids,
each partition ranks in parallel, and per-(partition, column) offsets
come from a tiny driver-side prefix sum. One call therefore runs one
ranking per dtype group, not one per column. Works for near-unique
columns (the reference encodes even its timestamp column, crime.py:38-39)
as well as small dictionaries. The ranking also yields each
dictionary's exact size, so codes join back per column by broadcast
when that size fits the session's broadcast threshold; a larger
dictionary's join is left to the planner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crime_spark_ml_spark.operators.rank import grouped_row_number


def label_dictionaries(
    df: DataFrame, cols: list[str]
) -> dict[str, tuple[DataFrame, int]]:
    """Per column of ``cols``: its dictionary, the distinct non-NULL
    values with dense codes 0..n-1 in ascending order (``<col>``,
    ``<col>_code``), and its exact size n.

    Columns of one dtype share one distributed ranking; each column's
    dictionary is a filter of that one checkpointed frame."""
    groups: dict[str, list[str]] = {}
    for c, t in df.select(*cols).dtypes:
        groups.setdefault(t, []).append(c)
    dictionaries = {}
    for group in groups.values():
        values = (
            df.unpivot([], group, "__c", "__v")
            .where(F.col("__v").isNotNull())
            .distinct()
        )
        ranked, sizes = grouped_row_number(values, ["__c"], ["__v"])
        for c in group:
            dic = ranked.where(F.col("__c") == c).select(
                F.col("__v").alias(c), (F.col("__g") - 1).cast("int").alias(f"{c}_code")
            )
            dictionaries[c] = (dic, sizes.get((c,), 0))
    return dictionaries


def label_encode(df: DataFrame, cols: list[str]) -> DataFrame:
    """Append ``<col>_code`` for each requested column (E1/E2).

    Fit-on-this-frame semantics; for train/test flows fit the
    dictionaries on train via ``label_dictionaries`` and join onto test
    (the reference's independent re-fit on test, crime.py:117-120, is a
    leakage bug we do not replicate by default — SURVEY.md §2.4 E2).

    A dictionary joins back by broadcast when its exact size (rows ×
    ``8 + schema.defaultSize``, the planner's own row width) fits
    ``spark.sql.autoBroadcastJoinThreshold`` (never when that is -1):
    the usual low-cardinality categorical broadcasts at any scale, and
    only a really large dictionary of a near-unique column (timestamps,
    addresses) is left to the planner, to shuffle-join.
    """
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    threshold = conf.autoBroadcastJoinThreshold()
    dictionaries = label_dictionaries(df, cols)
    out = df
    for c in cols:
        dic, n = dictionaries[c]
        if n * (8 + dic._jdf.schema().defaultSize()) <= threshold:
            dic = F.broadcast(dic)
        out = out.join(dic, on=c, how="left")
    return out
