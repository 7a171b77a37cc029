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
as well as small dictionaries. Codes then broadcast- or shuffle-join
back per column depending on dictionary size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crime_spark_ml_spark.operators.rank import grouped_row_number


def label_dictionaries(df: DataFrame, cols: list[str]) -> dict[str, DataFrame]:
    """Per column of ``cols``: its distinct non-NULL values with dense
    codes 0..n-1 in ascending order (``<col>``, ``<col>_code``).

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
        ranked = grouped_row_number(values, ["__c"], ["__v"])
        for c in group:
            dictionaries[c] = ranked.where(F.col("__c") == c).select(
                F.col("__v").alias(c), (F.col("__g") - 1).cast("int").alias(f"{c}_code")
            )
    return dictionaries


def label_encode(df: DataFrame, cols: list[str], broadcast: bool = True) -> DataFrame:
    """Append ``<col>_code`` for each requested column (E1/E2).

    Fit-on-this-frame semantics; for train/test flows fit the
    dictionaries on train via ``label_dictionaries`` and join onto test
    (the reference's independent re-fit on test, crime.py:117-120, is a
    leakage bug we do not replicate by default — SURVEY.md §2.4 E2).

    ``broadcast=True`` hints the dictionary joins — right for the usual
    low-cardinality categorical. Pass ``broadcast=False`` for
    near-unique columns (timestamps, addresses): their dictionaries are
    table-sized and must shuffle-join instead.
    """
    dictionaries = label_dictionaries(df, cols)
    out = df
    for c in cols:
        dic = dictionaries[c]
        if broadcast:
            dic = F.broadcast(dic)
        out = out.join(dic, on=c, how="left")
    return out
