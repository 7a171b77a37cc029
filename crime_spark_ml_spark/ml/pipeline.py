"""The reference's ML workload (crime.py:79-206) as one pyspark.ml
Pipeline — SURVEY.md §3.2's target design.

Reference trace → stage mapping:
- split Dates → date/time + Year (crime.py:97-104, E3/E4)   → prepare_crime()
- impute (crime.py:85-94, E5, declared-unused)              → prepare_crime()
- label-encode columns (crime.py:108-120, E1/E2)            → one
  multi-column StringIndexer (the four feature columns + Category, all
  dictionaries in one fit pass) with ``stringOrderType="alphabetAsc"``
  (sklearn LabelEncoder orders classes lexicographically; Spark's default
  frequencyDesc would diverge)
- rename X/Y → Longitude/Latitude (crime.py:122-124, P3)    → prepare_crime()
- z-score lon/lat (crime.py:127-134, E6)                    → StandardScaler
  (withMean+withStd; MLlib uses the sample std, matching pandas ddof=1)
- KMeans k=10 seed=0 → Cluster column (crime.py:136-137,M2) → KMeans stage
  (k-means|| init, not sklearn's n_init×k-means++ → verified
  distributionally, SURVEY.md §5.2)
- LightGBM multiclass (crime.py:171-198, M3)                → RandomForest
  (MLlib GBT is binary-only; RF is the in-MLlib multiclass GBM stand-in —
  documented deviation, SURVEY.md §2.9)
- argmax predict + accuracy (crime.py:183-186, M4/M5)       → prediction col
  + MulticlassClassificationEvaluator

Train once, ``transform`` test — the reference's independent re-fit of
encoders on test (crime.py:117-120) is a leakage bug we intentionally
do not replicate (SURVEY.md §2.4 E2).

Scale notes: the fitted artifacts (dictionaries, scaler stats,
centroids, trees) are tiny driver-side models broadcast to executors;
training data is cached before the iterative stages (KMeans/RF
re-scan it — crime.py recomputes everything twice instead, §4).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.clustering import KMeans
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import SQLTransformer, StandardScaler, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INDEX_COLS = ("DayOfWeek", "PdDistrict", "Address", "time")


def prepare_crime(df: DataFrame) -> DataFrame:
    """E3/E4/E5/P1/P3: split Dates, extract Year, impute, rename."""
    parts = F.split("Dates", " ")
    out = (
        df.withColumn("date", parts.getItem(0))
        .withColumn("time", parts.getItem(1))
        .withColumn("Year", F.year(F.to_date("date")).cast("int"))
        .withColumnRenamed("X", "Longitude")
        .withColumnRenamed("Y", "Latitude")
        .drop("date", "Dates", "Descript", "Resolution")
    )
    str_cols = [c for c, t in out.dtypes if t == "string"]
    num_cols = [c for c, t in out.dtypes if t in ("double", "int", "bigint")]
    return out.na.fill("none", subset=str_cols).na.fill(0, subset=num_cols)


def build_crime_pipeline(
    index_cols: tuple[str, ...] = INDEX_COLS,
    k: int = 10,
    seed: int = 0,
    num_trees: int = 40,
    max_depth: int = 10,
) -> Pipeline:
    # one multi-column indexer: all five dictionaries in one fit pass
    indexer = StringIndexer(
        inputCols=[*index_cols, "Category"],
        outputCols=[*(f"{c}_code" for c in index_cols), "label"],
        stringOrderType="alphabetAsc",
        handleInvalid="keep",
    )
    geo = VectorAssembler(inputCols=["Longitude", "Latitude"], outputCol="geo_raw")
    scaler = StandardScaler(
        inputCol="geo_raw", outputCol="geo_scaled", withMean=True, withStd=True
    )
    km = KMeans(featuresCol="geo_scaled", predictionCol="Cluster", k=k, seed=seed)
    # LightGBM consumed the label codes as plain numerics (crime.py:171-181);
    # casting strips the indexer's categorical metadata so the forest does
    # the same instead of rejecting high-cardinality columns (Address).
    casts = ", ".join(
        f"CAST({c}_code AS DOUBLE) AS {c}_num" for c in index_cols
    )
    decat = SQLTransformer(statement=f"SELECT *, {casts} FROM __THIS__")
    features = VectorAssembler(
        inputCols=[f"{c}_num" for c in index_cols] + ["Year", "Cluster"],
        outputCol="features",
    )
    clf = RandomForestClassifier(
        featuresCol="features",
        labelCol="label",
        numTrees=num_trees,
        maxDepth=max_depth,
        seed=seed,
    )
    return Pipeline(stages=[indexer, geo, scaler, km, decat, features, clf])


@dataclass
class CrimeModelResult:
    model: PipelineModel
    accuracy: float
    predictions: DataFrame  # Id, Category (S5 prediction-table sink)


def decode_predictions(model: PipelineModel, scored: DataFrame) -> DataFrame:
    """S5 prediction table: Id + predicted Category string.

    Ids come from monotonically_increasing_id — opaque partition-encoded
    longs (the reference's pandas row index is equally meaningless,
    crime.py:205); the frame is cached so the Ids written to disk match
    the Ids a later action sees (the expression is otherwise recomputed
    per action)."""
    from pyspark.ml.feature import StringIndexerModel

    indexer = next(s for s in model.stages if isinstance(s, StringIndexerModel))
    labels = indexer.labelsArray[indexer.getInputCols().index("Category")]
    to_cat = F.element_at(
        F.array(*[F.lit(x) for x in labels]), F.col("prediction").cast("int") + 1
    )
    return scored.select(
        F.monotonically_increasing_id().alias("Id"), to_cat.alias("Category")
    ).cache()


def train_crime_model(
    train_raw: DataFrame, seed: int = 0, **pipeline_kwargs
) -> CrimeModelResult:
    """M1 70/30 split → fit → M4 predict → M5 accuracy → S5 sink."""
    prepared = prepare_crime(train_raw).cache()
    train, test = prepared.randomSplit([0.7, 0.3], seed=seed)
    model = build_crime_pipeline(seed=seed, **pipeline_kwargs).fit(train)
    scored = model.transform(test)
    accuracy = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(scored)
    return CrimeModelResult(
        model=model, accuracy=accuracy, predictions=decode_predictions(model, scored)
    )
