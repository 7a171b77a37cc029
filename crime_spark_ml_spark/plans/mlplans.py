"""ML query plans (SURVEY.md §2.9). Training outputs aren't
SQL-expressible, so each plan returns CONSTANT+ANCHOR invariant columns
the driver CAN hash against a DuckDB oracle (the r3
``dp_simhash_selfcheck`` pattern): data-derived anchors (class counts,
row counts, embedding dim — computed distributed, reproduced by the
oracle from the same tables) plus boolean sanity bands on the trained
metric. The embeddings fixture's labels are random relative to the
vectors, so chance-level accuracy/AUC is the EXPECTED outcome — the
bands assert the pipeline trains and evaluates sanely (no empty split,
no NaN, no collapsed model), not model quality; quality-style
distributional assertions live in tests/test_ml.py. Target encoding
(M6 MEstimate) is fully SQL-expressible and carries a value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggs import dec_sum, dec_sum_sql
from ..sources.catalog import (
    EMBEDDING_WELL_FORMED_SQL,
    EVENTS_WELL_FORMED_SQL,
    load_table,
    well_formed_embeddings,
    well_formed_events,
)
from .registry import register


def _vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn("features", array_to_vector(vec_col))


@register(
    "ml_kmeans_clusters",
    oracle=f"""
    SELECT 10 AS k_requested,
           COUNT(*) AS n_points,
           TRUE AS n_clusters_bounded,
           TRUE AS sizes_positive
    FROM embeddings WHERE {EMBEDDING_WELL_FORMED_SQL}
    """,
    tags=("ml", "M2", "invariant"),
)
def ml_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans k=10 seed=0 (crime.py:136-137) on the embeddings fixture.
    Invariant oracle: every input point lands in exactly one cluster
    (``n_points`` — the size sum — must equal the table's COUNT(*), a
    data anchor DuckDB reproduces), the model yields between 2 and k
    non-empty clusters, and no cluster size is ≤ 0. Exact sizes depend
    on the session's partitioning (k-means|| sampling), so they are
    asserted distributionally in tests/test_ml.py instead."""
    from pyspark.ml.clustering import KMeans

    emb = _vectors(well_formed_embeddings(load_table(spark, sf_dir, "embeddings"))).cache()
    model = KMeans(k=10, seed=0, featuresCol="features").fit(emb)
    sizes = (
        model.transform(emb)
        .groupBy(F.col("prediction").alias("cluster"))
        .agg(F.count("*").alias("n"))
    )
    emb.unpersist()  # centroids are fitted; the transform re-scans parquet
    return sizes.agg(
        F.lit(10).alias("k_requested"),
        F.sum("n").alias("n_points"),
        F.count("*").between(2, 10).alias("n_clusters_bounded"),
        (F.min("n") > 0).alias("sizes_positive"),
    )


@register(
    "ml_logreg_accuracy",
    oracle=f"""
    SELECT TRUE AS acc_in_range,
           COUNT(DISTINCT label) AS n_classes,
           TRUE AS split_covers_all
    FROM embeddings WHERE {EMBEDDING_WELL_FORMED_SQL}
    """,
    tags=("ml", "M3", "M4", "M5", "M6", "invariant"),
)
def ml_logreg_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass LogisticRegression (M6 declared surface) on the
    embeddings fixture with a 70/30 split (M1) + M5 evaluator.
    Invariant oracle: accuracy lands in a sanity band (labels are
    random vs the vectors, so ~chance 1/n_classes is expected — the
    band catches empty splits / NaN / collapsed evaluators, values in
    [0.02, 0.5]); ``n_classes`` inferred by the model must equal the
    table's distinct label count (data anchor; every class has ≥44
    rows at sf0.01, so a 70% split missing one has probability ~0)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    emb = _vectors(well_formed_embeddings(load_table(spark, sf_dir, "embeddings"))).withColumn(
        "label", F.col("label").cast("double")
    )
    train, test = emb.randomSplit([0.7, 0.3], seed=0)
    train = train.cache()
    model = LogisticRegression(maxIter=25, regParam=0.01, labelCol="label").fit(train)
    train.unpersist()
    scored = model.transform(test)
    acc = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(scored)
    n_distinct = emb.select("label").distinct().count()
    return spark.createDataFrame(
        [(0.02 <= acc <= 0.5, model.numClasses, model.numClasses == n_distinct)],
        "acc_in_range boolean, n_classes int, split_covers_all boolean",
    )


@register(
    "ml_pca_embeddings",
    oracle=f"""
    SELECT 8 AS n_components,
           MAX(len(embedding)) AS input_dim,
           TRUE AS ratios_sorted_desc,
           TRUE AS ratios_positive,
           TRUE AS ratios_sum_le_one
    FROM embeddings WHERE {EMBEDDING_WELL_FORMED_SQL}
    """,
    tags=("ml", "M6", "PCA", "invariant"),
)
def ml_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA k=8 over embeddings (M6): covariance is a one-pass
    distributed aggregate; the eigensolve is driver-side on the tiny
    64×64 matrix. Invariant oracle: explained-variance ratios must be
    positive, sorted descending, and sum ≤ 1, and the loading matrix's
    row count must equal the embedding dimension (data anchor DuckDB
    reproduces with len(embedding)). Exact ratios depend on float
    aggregation order, so they are pinned with a tolerance in
    tests/test_ml.py instead of hashed."""
    from pyspark.ml.feature import PCA

    emb = _vectors(well_formed_embeddings(load_table(spark, sf_dir, "embeddings")))
    model = PCA(k=8, inputCol="features", outputCol="pca").fit(emb)
    ev = [float(x) for x in model.explainedVariance]
    return spark.createDataFrame(
        [
            (
                len(ev),
                model.pc.numRows,
                all(a >= b for a, b in zip(ev, ev[1:])),
                all(v > 0 for v in ev),
                sum(ev) <= 1.0,
            )
        ],
        "n_components int, input_dim int, ratios_sorted_desc boolean, "
        "ratios_positive boolean, ratios_sum_le_one boolean",
    )


@register(
    "ml_target_encoding",
    oracle=f"""
    WITH g AS (SELECT {dec_sum_sql('o_totalprice', 2)} / COUNT(*) AS gmean FROM orders),
    seg AS (
      SELECT c_mktsegment,
             {dec_sum_sql('o_totalprice', 2)} AS seg_sum,
             COUNT(*) AS seg_n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment)
    SELECT c_mktsegment,
           ROUND((seg_sum + 20.0 * gmean) / (seg_n + 20.0), 4) AS target_enc
    FROM seg CROSS JOIN g
    ORDER BY c_mktsegment
    """,
    tags=("ml", "M6", "target-encoding"),
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-estimate target encoding (M6: MEstimateEncoder import at
    crime.py:24): smoothed segment mean of order totals — a groupBy
    aggregate + broadcast of the global mean, no model object."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    m = 20.0
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    g = o.agg((dec_sum("o_totalprice", 2) / F.count("*")).alias("gmean"))
    seg = joined.groupBy("c_mktsegment").agg(
        dec_sum("o_totalprice", 2).alias("seg_sum"), F.count("*").alias("seg_n")
    )
    return (
        seg.crossJoin(F.broadcast(g))
        .select(
            "c_mktsegment",
            F.round(
                (F.col("seg_sum") + m * F.col("gmean")) / (F.col("seg_n") + m), 4
            ).alias("target_enc"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "ml_crime_pipeline",
    oracle="""
    SELECT TRUE AS acc_above_majority,
           TRUE AS preds_are_valid_categories,
           TRUE AS genuinely_multiclass,
           TRUE AS test_frac_in_band
    """,
    tags=("ml", "M1", "M2", "M3", "M4", "M5", "invariant"),
)
def ml_crime_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's end-to-end workload (crime.py:79-206) on the
    synthetic crime fixture: indexers → scaler → KMeans → RF →
    prediction table + accuracy. The fixture is generated, not read
    from the sf tables, so the oracle is constants-only (no data
    anchor possible); each boolean is a real computed invariant:
    accuracy beats the majority-class baseline (the fixture embeds a
    learnable district+hour signal), every predicted Category is a
    valid fixture category string, the model predicts ≥2 classes, and
    the 70/30 split's test share lands in [0.2, 0.4]. The raw
    prediction-table shape stays covered by tests/test_ml.py and the
    S5 writer tests."""
    from ..ml.pipeline import prepare_crime, train_crime_model
    from ..sources.crimegen import CATEGORIES, crime_table

    raw = crime_table(spark, n_rows=4000)
    result = train_crime_model(raw, num_trees=20, max_depth=8)
    pred_stats = result.predictions.agg(
        F.count("*").alias("n_test"),
        F.countDistinct("Category").alias("n_cats"),
        F.every(F.col("Category").isin(list(CATEGORIES))).alias("valid"),
    ).first()
    prepared = prepare_crime(raw).cache()
    n_prepared = prepared.count()
    majority = (
        prepared.groupBy("Category").count().agg(F.max("count")).first()[0]
        / n_prepared
    )
    prepared.unpersist()
    return spark.createDataFrame(
        [
            (
                result.accuracy > majority,
                bool(pred_stats.valid),
                pred_stats.n_cats >= 2,
                0.2 <= pred_stats.n_test / n_prepared <= 0.4,
            )
        ],
        "acc_above_majority boolean, preds_are_valid_categories boolean, "
        "genuinely_multiclass boolean, test_frac_in_band boolean",
    )


@register(
    "ml_gbt_binary_auc",
    oracle=f"""
    SELECT TRUE AS auc_in_range,
           COUNT(DISTINCT label % 2) AS n_label_values,
           10 AS n_trees
    FROM embeddings WHERE {EMBEDDING_WELL_FORMED_SQL}
    """,
    tags=("ml", "M6", "GBT", "invariant"),
)
def ml_gbt_binary_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GBTClassifier (M6 GradientBoostingClassifier analog; MLlib GBT
    is binary-only, SURVEY.md §2.9 M3) on a binarized embeddings label
    + ROC-AUC via BinaryClassificationEvaluator. Invariant oracle: AUC
    in a sanity band around the expected chance level (labels are
    random vs the vectors → ~0.5; band [0.2, 0.8] catches NaN /
    degenerate scorers), the binarized label takes exactly the values
    DuckDB counts, and the ensemble has the requested tree count."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    emb = _vectors(well_formed_embeddings(load_table(spark, sf_dir, "embeddings"))).withColumn(
        "label", (F.col("label") % 2).cast("double")
    )
    train, test = emb.randomSplit([0.7, 0.3], seed=0)
    train = train.cache()
    model = GBTClassifier(maxIter=10, maxDepth=3, seed=0, labelCol="label").fit(train)
    train.unpersist()
    auc = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    ).evaluate(model.transform(test))
    n_label_values = emb.select("label").distinct().count()
    return spark.createDataFrame(
        [(0.2 <= auc <= 0.8, n_label_values, model.getNumTrees)],
        "auc_in_range boolean, n_label_values bigint, n_trees int",
    )


@register(
    "ml_gbt_multiclass",
    oracle=f"""
    SELECT TRUE AS acc_in_range,
           COUNT(DISTINCT label) AS n_classes,
           TRUE AS one_model_per_class,
           TRUE AS predicted_classes_bounded
    FROM embeddings WHERE {EMBEDDING_WELL_FORMED_SQL}
    """,
    tags=("ml", "M3", "GBT", "multiclass", "invariant"),
)
def ml_gbt_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass boosted trees via OneVsRest(GBTClassifier) — the
    closest pure-MLlib analog of the reference's LightGBM multiclass
    objective (crime.py:171-198, num_class=40): one binary GBT per
    class, fits run in parallel, argmax over per-class raw scores.
    Invariant oracle: accuracy in a chance-level sanity band (random
    labels → ~1/n_classes), exactly one binary model per distinct
    label (data anchor), and ≥2 distinct predicted classes (the model
    is genuinely multiclass, not collapsed)."""
    from pyspark.ml.classification import GBTClassifier, OneVsRest
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    emb = _vectors(well_formed_embeddings(load_table(spark, sf_dir, "embeddings"))).withColumn(
        "label", F.col("label").cast("double")
    )
    train, test = emb.randomSplit([0.7, 0.3], seed=0)
    train = train.cache()
    gbt = GBTClassifier(maxIter=5, maxDepth=3, seed=0, labelCol="label")
    ovr = OneVsRest(classifier=gbt, labelCol="label", parallelism=4)
    model = ovr.fit(train)
    train.unpersist()
    scored = model.transform(test).cache()
    acc = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(scored)
    n_pred_classes = scored.select("prediction").distinct().count()
    scored.unpersist()
    n_distinct = emb.select("label").distinct().count()
    return spark.createDataFrame(
        [
            (
                0.01 <= acc <= 0.5,
                len(model.models),
                len(model.models) == n_distinct,
                2 <= n_pred_classes <= n_distinct,
            )
        ],
        "acc_in_range boolean, n_classes int, one_model_per_class boolean, "
        "predicted_classes_bounded boolean",
    )


@register(
    "ml_linreg_coefs",
    oracle="""
    SELECT TRUE AS r2_in_range,
           2 AS n_coefs,
           COUNT(*) AS n_instances,
           TRUE AS intercept_finite
    FROM orders
    WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
      AND o_custkey IS NOT NULL
    """,
    tags=("ml", "M6", "ridge", "lasso", "invariant"),
)
def ml_linreg_coefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LinearRegression with elastic-net (M6: Ridge/Lasso/ElasticNetCV
    analogs via regParam/elasticNetParam): predict o_totalprice from
    order features. Invariant oracle: r² in a sanity band (the features
    carry ~no signal → ~0; band [-0.1, 0.5] catches NaN/divergence),
    one coefficient per input feature, the training summary saw exactly
    the table's row count (data anchor), and a finite intercept."""
    import math

    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    # complete-case training set (VectorAssembler raises on NULL
    # features, LinearRegression on NULL labels) — the oracle's
    # instance anchor filters identically
    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_totalprice").alias("label"),
            F.year("o_orderdate").cast("double").alias("yr"),
            (F.col("o_custkey") % 100).cast("double").alias("custmod"),
        )
        .na.drop()
    )
    feats = VectorAssembler(inputCols=["yr", "custmod"], outputCol="features").transform(o).cache()
    model = LinearRegression(
        maxIter=20, regParam=0.1, elasticNetParam=0.5, labelCol="label"
    ).fit(feats)
    feats.unpersist()
    return spark.createDataFrame(
        [
            (
                -0.1 <= model.summary.r2 <= 0.5,
                len(model.coefficients),
                int(model.summary.numInstances),
                math.isfinite(model.intercept),
            )
        ],
        "r2_in_range boolean, n_coefs int, n_instances bigint, intercept_finite boolean",
    )


@register(
    "ml_corr_matrix_full",
    oracle="""
    WITH cc AS (
      -- LISTWISE deletion: the matrix is defined over complete rows
      -- (MLlib's Gram-matrix pass admits no NULLs; DuckDB's CORR
      -- would delete pairwise, silently computing each cell on a
      -- different sample)
      SELECT l_quantity, l_extendedprice, l_discount, l_tax
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL AND l_tax IS NOT NULL
    )
    SELECT 'l_quantity' AS c1, 'l_extendedprice' AS c2,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr FROM cc
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           ROUND(CORR(l_quantity, l_discount), 6) FROM cc
    UNION ALL
    SELECT 'l_quantity', 'l_tax',
           ROUND(CORR(l_quantity, l_tax), 6) FROM cc
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           ROUND(CORR(l_extendedprice, l_discount), 6) FROM cc
    UNION ALL
    SELECT 'l_extendedprice', 'l_tax',
           ROUND(CORR(l_extendedprice, l_tax), 6) FROM cc
    UNION ALL
    SELECT 'l_discount', 'l_tax',
           ROUND(CORR(l_discount, l_tax), 6) FROM cc
    ORDER BY c1, c2
    """,
    tags=("ml", "A6", "correlation"),
)
def ml_corr_matrix_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Pearson correlation matrix via ml.stat.Correlation
    (crime.py:42 ``sf_encode.corr()``): one distributed pass builds the
    Gram matrix; upper-triangle entries returned as rows and checked
    against DuckDB's pairwise CORR."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    # listwise complete-case sample, mirrored in the oracle's cc CTE
    li = load_table(spark, sf_dir, "lineitem").select(*cols).na.drop()
    assembled = VectorAssembler(inputCols=cols, outputCol="__v").transform(li)
    mat = Correlation.corr(assembled, "__v", "pearson").head()[0].toArray()
    rows = [
        (cols[i], cols[j], round(float(mat[i][j]), 6))
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    return spark.createDataFrame(rows, "c1 string, c2 string, corr double").orderBy(
        "c1", "c2"
    )


@register(
    "ml_crossval_logreg",
    oracle="""
    SELECT CAST(0.01 AS DOUBLE) AS reg_param, TRUE AS mean_acc_in_range, 3 AS n_folds
    UNION ALL
    SELECT CAST(0.1 AS DOUBLE), TRUE, 3
    ORDER BY reg_param
    """,
    tags=("ml", "M6", "KFold", "invariant"),
)
def ml_crossval_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CrossValidator (M6: KFold/cross_val_score analog, crime.py:27):
    3-fold CV over a small regParam grid for multinomial logistic
    regression on the embeddings fixture. Invariant oracle: one row per
    grid candidate (the regParam values are deterministic constants),
    each mean CV accuracy in the chance-level sanity band
    [0.02, 0.5] (random labels → ~0.1), fold count echoed."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    emb = _vectors(load_table(spark, sf_dir, "embeddings")).withColumn(
        "label", F.col("label").cast("double")
    ).cache()
    lr = LogisticRegression(maxIter=15, labelCol="label")
    grid = ParamGridBuilder().addGrid(lr.regParam, [0.01, 0.1]).build()
    cv = CrossValidator(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName="accuracy"
        ),
        numFolds=3,
        seed=0,
        parallelism=2,
    )
    model = cv.fit(emb)
    emb.unpersist()
    rows = [
        (float(g[lr.regParam]), 0.02 <= float(m) <= 0.5, 3)
        for g, m in zip(grid, model.avgMetrics)
    ]
    return spark.createDataFrame(
        rows, "reg_param double, mean_acc_in_range boolean, n_folds int"
    ).orderBy("reg_param")


@register(
    "ml_tfidf_text_classifier",
    oracle="""
    SELECT TRUE AS acc_above_floor,
           COUNT(DISTINCT lang) + 1 AS n_classes
    FROM documents
    """,
    tags=("ml", "M6", "text", "tfidf", "invariant"),
)
def ml_tfidf_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer→StopWordsRemover→HashingTF→IDF→LogisticRegression on
    the documents fixture (lang as the label) — the sentiment/spam
    text-classification shape the reference streams (stream.py:248).
    Invariant oracle: language IS learnable from text, so held-out
    accuracy must clear a floor well above the worst-split chance
    level (observed ~0.43 vs 1/5 chance; floor 0.25), and the model's
    class count equals the table's distinct langs + 1 (the
    handleInvalid='keep' unseen-label bucket — a data anchor; the
    rarest lang has ≥64 rows at sf0.01, so a 70% split missing one has
    probability ~0)."""
    from ..ml.text_pipeline import train_text_classifier

    docs = load_table(spark, sf_dir, "documents")
    model, acc = train_text_classifier(docs, num_features=1 << 12, max_iter=10)
    n_classes = model.stages[-1].numClasses
    return spark.createDataFrame(
        [(acc >= 0.25, n_classes)], "acc_above_floor boolean, n_classes bigint"
    )


@register("dp_dup_clusters", oracle=None, tags=("dedup", "clusters"))
def dp_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash candidates → connected components → dedup clusters:
    cluster sizes ≥2 with their min-id representative."""
    from ..operators.dedup import duplicate_clusters, minhash_lsh_candidates

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs)
    clusters = duplicate_clusters(pairs, docs.select("doc_id"))
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .where(F.col("cluster_size") >= 2)
        .orderBy(F.desc("cluster_size"), "cluster_id")
    )


@register(
    "ml_naive_bayes_text",
    oracle="""
    SELECT TRUE AS acc_above_floor,
           COUNT(DISTINCT lang) AS n_classes
    FROM documents
    """,
    tags=("ml", "M6", "text", "nb", "invariant"),
)
def ml_naive_bayes_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaiveBayes over hashed token counts — the classic streaming
    text-classification model (the reference streams sentiment batches,
    stream.py:248); multinomial NB's per-class token-count sufficient
    statistics are one distributed aggregate, which is why it is THE
    incrementally-trainable baseline. Invariant oracle: language IS
    learnable from token counts, so held-out accuracy must clear a
    floor well above the 1/5 chance level (floor 0.25), and the model's
    class count equals the table's distinct langs (a data anchor; the
    indexer here fits on the 70% train split, and every lang has ≥64
    rows at sf0.01, so a split missing one has probability ~0)."""
    from pyspark.ml.classification import NaiveBayes
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.feature import HashingTF, StringIndexer, Tokenizer
    from pyspark.ml.pipeline import Pipeline

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    train, test = docs.randomSplit([0.7, 0.3], seed=0)
    pipe = Pipeline(
        stages=[
            StringIndexer(inputCol="lang", outputCol="label", stringOrderType="alphabetAsc"),
            Tokenizer(inputCol="text", outputCol="words"),
            HashingTF(inputCol="words", outputCol="features", numFeatures=1 << 12),
            NaiveBayes(modelType="multinomial", smoothing=1.0, labelCol="label"),
        ]
    )
    model = pipe.fit(train)
    scored = model.transform(test)
    acc = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(scored)
    n_classes = model.stages[-1].numClasses
    return spark.createDataFrame(
        [(acc >= 0.25, n_classes)], "acc_above_floor boolean, n_classes bigint"
    )


@register(
    "ml_kmeans_elbow",
    oracle=f"""
    SELECT COUNT(*) AS n_points,
           TRUE AS cost_monotone_nonincreasing,
           TRUE AS all_costs_positive
    FROM embeddings WHERE {EMBEDDING_WELL_FORMED_SQL}
    """,
    tags=("ml", "kmeans", "invariant"),
)
def ml_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The elbow-curve invariant: KMeans training cost (within-cluster
    sum of squares) at k = 2, 4, 8 (seed 0) must be non-increasing in
    k — more centroids can only reduce (or hold) the within-cluster
    SSE when each larger fit actually converges; a violation means a
    broken fit (bad seeding, early stop), which is precisely what this
    attests.  Exact costs depend on k-means|| sampling order, so the
    curve's MONOTONICITY is the oracle-stable property, with the point
    count as the data anchor (pattern: ml_kmeans_clusters)."""
    from pyspark.ml.clustering import KMeans

    emb = _vectors(well_formed_embeddings(load_table(spark, sf_dir, "embeddings"))).cache()
    n_points = emb.count()
    costs = []
    for k in (2, 4, 8):
        model = KMeans(k=k, seed=0, featuresCol="features").fit(emb)
        costs.append(float(model.summary.trainingCost))
    emb.unpersist()
    monotone = all(costs[i + 1] <= costs[i] * (1 + 1e-9) for i in range(len(costs) - 1))
    positive = all(c > 0 for c in costs)
    return (
        load_table(spark, sf_dir, "region")
        .limit(1)
        .select(
            F.lit(n_points).cast("bigint").alias("n_points"),
            F.lit(monotone).alias("cost_monotone_nonincreasing"),
            F.lit(positive).alias("all_costs_positive"),
        )
    )


@register(
    "ml_als_implicit",
    oracle="""
    WITH ratings AS (
      -- complete interactions only: ALS contractually refuses NULL
      -- ids, and a NULL strength (all quantities missing) carries no
      -- signal — filtered identically on the Spark side
      SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
             SUM(l.l_quantity) AS strength
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey IS NOT NULL AND l.l_partkey IS NOT NULL
      GROUP BY 1, 2
      HAVING SUM(l.l_quantity) IS NOT NULL)
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT user_id) * 5 AS BIGINT) AS n_recs,
           TRUE AS five_recs_per_user,
           TRUE AS recs_are_known_items,
           TRUE AS scores_finite
    FROM ratings
    """,
    tags=("ml", "als", "recommender", "invariant"),
)
def ml_als_implicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS implicit-feedback recommender (rank 8, 10 iterations,
    seed 0) over the customer × part purchase graph — strengths are
    summed lineitem quantities, the classic implicit signal. The
    factorization is Spark-native distributed ALS: both factor
    matrices stay partitioned, and recommendForAllUsers is a blocked
    cross-product with per-block top-k — nothing ever collects to the
    driver.

    Invariant oracle (the ml_kmeans_clusters pattern — factor values
    depend on the session's partitioning, so exact scores are
    asserted distributionally in tests): DuckDB anchors the distinct
    purchasing-user count; hashed booleans pin exactly 5 recs per
    user, every recommended item being a known item id, and every
    score finite."""
    from pyspark.ml.recommendation import ALS

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ratings = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("o_custkey").isNotNull() & F.col("l_partkey").isNotNull())
        .groupBy(
            F.col("o_custkey").cast("int").alias("user_id"),
            F.col("l_partkey").cast("int").alias("item_id"),
        )
        .agg(F.sum("l_quantity").cast("float").alias("strength"))
        .where(F.col("strength").isNotNull())
        .cache()
    )
    als = ALS(
        rank=8,
        maxIter=10,
        seed=0,
        implicitPrefs=True,
        userCol="user_id",
        itemCol="item_id",
        ratingCol="strength",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    recs = model.recommendForAllUsers(5).select(
        "user_id", F.explode("recommendations").alias("rec")
    )
    known_items = ratings.select("item_id").distinct().withColumn("__known", F.lit(1))
    flat = recs.select(
        "user_id",
        F.col("rec.item_id").alias("item_id"),
        F.col("rec.rating").alias("score"),
    ).join(F.broadcast(known_items), "item_id", "left")
    ratings.unpersist()
    # ONE aggregate carries every invariant (a per-user regroup isn't
    # needed: recommendForAllUsers caps at 5, so n_recs == 5·n_users
    # already implies exactly-5 for every user), and the known-item
    # check rides the broadcast hash join's indicator — no 1-row
    # crossJoins, nothing for the BNLJ linter to flag
    return flat.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_recs"),
        (F.count("*") == 5 * F.countDistinct("user_id")).alias("five_recs_per_user"),
        (F.sum(F.when(F.col("__known").isNull(), 1).otherwise(0)) == 0).alias(
            "recs_are_known_items"
        ),
        (
            F.sum(F.when(F.isnan("score") | F.col("score").isNull(), 1).otherwise(0))
            == 0
        ).alias("scores_finite"),
    )


@register(
    "ml_fpgrowth_itemsets",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT o.o_orderkey AS oid, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    singles AS (
      SELECT CAST(item AS VARCHAR) AS itemset, COUNT(*) AS freq
      FROM baskets GROUP BY item HAVING COUNT(*) >= 3),
    pairs AS (
      SELECT CAST(a.item AS VARCHAR) || ',' || CAST(b.item AS VARCHAR) AS itemset,
             COUNT(*) AS freq
      FROM baskets a JOIN baskets b ON a.oid = b.oid AND a.item < b.item
      GROUP BY a.item, b.item HAVING COUNT(*) >= 3)
    SELECT itemset, CAST(freq AS BIGINT) AS freq
    FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs)
    ORDER BY itemset
    """,
    tags=("ml", "fpgrowth", "market-basket"),
)
def ml_fpgrowth_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib FPGrowth frequent itemsets over order baskets — the
    library counterpart of the hand-rolled dp_association_rules,
    with a FULL VALUE ORACLE (unusual for ml_*): frequent-itemset
    mining is exact combinatorics, not randomized fitting, so
    DuckDB recomputes every size-≤2 itemset's frequency and the
    hash gate compares them 1:1 (itemsets canonicalized by sorting
    the items array; larger itemsets are filtered out of BOTH sides
    — the oracle pins the size-1/size-2 slice FPGrowth must agree
    on). minSupport is given to FPGrowth as the same absolute-3
    threshold the SQL HAVING applies (non-vacuous at every fixture
    scale: 433/63/2 frequent pairs at sf0.001/0.01/0.1; the pair
    itemsets are canonicalized by NUMERIC sort before string join —
    a lexicographic sort would flip mixed-digit-length pairs). FPGrowth distributes by
    conditional-tree partitioning on suffix items — no basket
    cross-product materializes."""
    from pyspark.ml.fpm import FPGrowth

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_orderkey").alias("oid"), F.col("l_partkey").alias("item"))
        .distinct()
        .groupBy("oid")
        .agg(F.collect_set("item").alias("items"))
        .cache()
    )
    n_baskets = baskets.count()
    # absolute-3 support, float-robustly: frequencies are integers, so
    # any threshold in (2, 3] selects freq >= 3 — but 3.0/n scaled
    # back by n inside FPGrowth can land at 3.0000000000000004 for
    # non-dyadic n and silently drop every freq-exactly-3 itemset
    # (observed: 633 -> 262 itemsets when the basket count moved off a
    # friendly value). 2.5/n keeps the round-trip safely inside (2, 3].
    fp = FPGrowth(itemsCol="items", minSupport=2.5 / n_baskets, minConfidence=0.5)
    model = fp.fit(baskets)
    out = (
        model.freqItemsets.where(F.size("items") <= 2)
        .select(
            F.array_join(
                F.transform(F.array_sort("items"), lambda x: x.cast("string")), ","
            ).alias("itemset"),
            F.col("freq").cast("bigint").alias("freq"),
        )
        .orderBy("itemset")
    )
    rows = out.collect()
    baskets.unpersist()
    return spark.createDataFrame(rows, out.schema).orderBy("itemset")


@register(
    "ml_isotonic_calibration",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           TRUE AS predictions_monotone,
           TRUE AS predictions_within_label_range
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice IS NOT NULL AND c_acctbal IS NOT NULL
    """,
    tags=("ml", "isotonic", "invariant"),
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (pool-adjacent-violators) calibrating order
    total price against customer account balance — the monotone-fit
    primitive used for score calibration. MLlib distributes PAVA by
    fitting per-partition then pooling on the driver over the
    partition boundary points (model size = #distinct feature values
    at worst, data-independent in practice after pooling).

    Invariant oracle (fit values depend on partition pooling order in
    degenerate tie cases, so exact outputs are pinned
    distributionally in tests): the row-count anchor, a hashed
    boolean that the model's fitted prediction sequence is
    NON-DECREASING (the defining isotonic property — read off the
    driver-side model arrays, never a global data sort), and a range
    check that every prediction lies
    within [min(label), max(label)] (PAVA predictions are averages of
    label subsets)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # complete-case calibration pairs (PAVA refuses NULL labels); the
    # oracle's n_points anchor applies the SAME join + filters
    data = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_acctbal").cast("double").alias("feat"),
            F.col("o_totalprice").cast("double").alias("label"),
        )
        .na.drop()
        .cache()
    )
    assembled = VectorAssembler(inputCols=["feat"], outputCol="features").transform(data)
    model = IsotonicRegression(
        featuresCol="features", labelCol="label", isotonic=True
    ).fit(assembled)
    scored = model.transform(assembled).select("label", "prediction")
    # monotonicity is read off the MODEL's own boundary/prediction
    # arrays (driver-side, model-sized) — a global orderBy window over
    # the scored data would be a single-partition sort at scale
    preds = [float(p) for p in model.predictions]
    monotone = all(a <= b for a, b in zip(preds, preds[1:]))
    bounds = scored.agg(
        F.count("*").cast("bigint").alias("n_points"),
        (
            (F.min("prediction") >= F.min("label"))
            & (F.max("prediction") <= F.max("label"))
        ).alias("in_range"),
    )
    n_points, in_range = bounds.first()
    data.unpersist()
    return spark.createDataFrame(
        [(n_points, monotone, in_range)],
        "n_points bigint, predictions_monotone boolean, "
        "predictions_within_label_range boolean",
    )


@register(
    "ml_gmm_clusters",
    oracle=f"""
    SELECT 6 AS k_requested,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           TRUE AS weights_sum_to_one,
           TRUE AS weights_positive,
           TRUE AS every_point_assigned
    FROM embeddings WHERE {EMBEDDING_WELL_FORMED_SQL}
    """,
    tags=("ml", "gmm", "invariant"),
)
def ml_gmm_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian mixture (EM, k=6, seed=0) over the embeddings — the
    soft-assignment complement of ml_kmeans_clusters: each point gets
    a responsibility vector instead of one label. Invariant oracle:
    mixture weights sum to 1 (±1e-9) and are all positive, every
    input point receives a prediction (count anchor DuckDB
    reproduces), k as requested. Exact weights depend on EM's float
    aggregation order across partitions, so they stay distributional
    in tests."""
    from pyspark.ml.clustering import GaussianMixture

    # full-covariance EM on all 64 dims is ill-conditioned at this
    # sample size (breeze raises MatrixNotSymmetric at sf0.01); the
    # mixture runs on the first 8 dims — the invariants under test
    # (weight simplex, full assignment) are dimension-independent
    emb = _vectors(
        well_formed_embeddings(load_table(spark, sf_dir, "embeddings")).withColumn(
            "embedding", F.slice("embedding", 1, 8)
        )
    ).cache()
    model = GaussianMixture(k=6, seed=0, featuresCol="features", maxIter=20).fit(emb)
    n_pred = model.transform(emb).where(F.col("prediction").isNotNull()).count()
    n_points = emb.count()
    emb.unpersist()
    weights = [float(w) for w in model.weights]
    return spark.createDataFrame(
        [
            (
                6,
                n_points,
                abs(sum(weights) - 1.0) < 1e-9,
                all(w > 0 for w in weights),
                n_pred == n_points,
            )
        ],
        "k_requested int, n_points bigint, weights_sum_to_one boolean, "
        "weights_positive boolean, every_point_assigned boolean",
    )


_BT_K = 6
_BT_GAMES = 120


def _bt_win_cols() -> list[str]:
    """Planted pairwise results: strengths 2^i, wins_ij = the rounded
    expected wins for i over j out of 120 games — pure literals, so
    both engines start from identical integers."""
    cols = []
    for i in range(_BT_K):
        for j in range(i + 1, _BT_K):
            pi, pj = 2.0 ** i, 2.0 ** j
            wij = round(_BT_GAMES * pi / (pi + pj))
            cols.append(f"CAST({wij} AS DOUBLE) AS wins_{i}_{j}")
    return cols


def _bt_derived_cols() -> list[str]:
    """Per-model total wins w<i> and per-pair game counts n<i><j>."""
    cols = []
    for i in range(_BT_K):
        wsum = []
        for j in range(_BT_K):
            if j == i:
                continue
            if i < j:
                wsum.append(f"wins_{i}_{j}")
            else:
                wsum.append(f"({_BT_GAMES} - wins_{j}_{i})")
        cols.append("CAST(" + " + ".join(wsum) + f" AS DOUBLE) AS w{i}")
    for i in range(_BT_K):
        for j in range(i + 1, _BT_K):
            cols.append(f"CAST({_BT_GAMES} AS DOUBLE) AS n{i}{j}")
    return cols


def _bt_mm_fold(dialect: str) -> str:
    """30 minorization-maximization iterations of the Bradley-Terry
    likelihood: s_i <- W_i / sum_j n_ij / (s_i + s_j). Scale is fixed
    afterwards by reporting ratios to model 0."""
    if dialect == "duck":
        idx = lambda a, i: f"{a}[{i}]"  # noqa: E731
        arr = lambda els: "[" + ", ".join(els) + "]"  # noqa: E731
    else:
        idx = lambda a, i: f"element_at({a}, {i})"  # noqa: E731
        arr = lambda els: "array(" + ", ".join(els) + ")"  # noqa: E731
    els = []
    for i in range(_BT_K):
        denom = " + ".join(
            f"n{min(i, j)}{max(i, j)}"
            f" / ({idx('acc', i + 1)} + {idx('acc', j + 1)})"
            for j in range(_BT_K)
            if j != i
        )
        els.append(f"w{i} / ({denom})")
    init = arr(["CAST(1 AS DOUBLE)"] * _BT_K)
    step = arr(els)
    if dialect == "duck":
        pad = ", ".join(["CAST(0 AS DOUBLE)"] * (_BT_K - 1))
        return (
            f"list_reduce(list_prepend({init},"
            f" list_transform(range(1, 31),"
            f" x -> [CAST(x AS DOUBLE), {pad}])),"
            f" (acc, x) -> {step})"
        )
    return f"aggregate(sequence(1, 30), {init}, (acc, it) -> {step})"


def _bt_select(dialect: str) -> str:
    idx = (lambda i: f"s[{i}]") if dialect == "duck" else (
        lambda i: f"element_at(s, {i})"
    )
    rows = []
    for i in range(_BT_K):
        rows.append(
            f"SELECT {i} AS model_id, CAST(w{i} AS BIGINT) AS wins_total,"
            f" ROUND({idx(i + 1)} / {idx(1)}, 6) AS strength_ratio_r"
            " FROM solved"
        )
    return " UNION ALL ".join(rows)


@register(
    "ml_bradley_terry",
    oracle=f"""
    WITH grid AS (SELECT {", ".join(_bt_win_cols())}),
    mat AS (SELECT *, {", ".join(_bt_derived_cols())} FROM grid),
    solved AS (SELECT *, {_bt_mm_fold("duck")} AS s FROM mat),
    per_model AS ({_bt_select("duck")}),
    ranked AS (
      SELECT model_id, wins_total, strength_ratio_r,
             CAST(ROW_NUMBER() OVER (ORDER BY strength_ratio_r DESC,
                                     model_id) AS INT) AS rk
      FROM per_model)
    SELECT CAST(model_id AS INT) AS model_id, wins_total,
           strength_ratio_r, rk,
           rk = {_BT_K} - model_id AS rank_matches_plant
    FROM ranked ORDER BY model_id
    """,
    tags=("ml", "bradley-terry", "arena", "ranking"),
)
def ml_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength estimation from pairwise outcomes — the
    arena-style model ranking estimator (every 'which model wins
    head-to-head' leaderboard is a BT fit), solved by 30 MM
    iterations (s_i <- W_i / sum n_ij/(s_i+s_j)) as a 6-double array
    fold — the ev_markov_attribution fixed-point discipline applied
    to a likelihood. The tournament is PLANTED: true strengths 2^i,
    win counts the rounded binomial expectations over 120 games per
    pair — so the fit has exact ground truth, and the estimator
    recovers the geometric ladder to within 0.5% (measured ratios
    1 / 2.00 / 4.00 / 8.04 / 16.10 / 32.05) with the full ranking
    pinned by rank_matches_plant on every row.

    Identifiability note: BT strengths are scale-free; the report
    fixes the gauge as ratios to model 0, so both engines divide
    identical folded doubles.

    Scale shape: a literal 15-pair tournament; real usage feeds the
    same fold from a pairwise-outcome groupBy, which is one shuffle
    of match logs."""
    grid = spark.range(1).selectExpr(*[c for c in _bt_win_cols()])
    mat = grid.selectExpr("*", *_bt_derived_cols())
    solved = mat.selectExpr("*", _bt_mm_fold("spark") + " AS s")
    rows = []
    for i in range(_BT_K):
        rows.append(
            solved.selectExpr(
                f"{i} AS model_id",
                f"CAST(w{i} AS BIGINT) AS wins_total",
                f"ROUND(element_at(s, {i + 1}) / element_at(s, 1), 6)"
                " AS strength_ratio_r",
            )
        )
    per_model = rows[0]
    for r in rows[1:]:
        per_model = per_model.unionByName(r)
    w_rk = Window.orderBy(F.col("strength_ratio_r").desc(), "model_id")
    return (
        per_model.select(
            F.col("model_id").cast("int").alias("model_id"),
            "wins_total",
            "strength_ratio_r",
            F.row_number().over(w_rk).cast("int").alias("rk"),
        )
        .withColumn(
            "rank_matches_plant",
            F.expr(f"rk = {_BT_K} - model_id"),
        )
        .orderBy("model_id")
    )


@register(
    "ml_classification_report",
    oracle="""
    WITH labeled AS (
      SELECT c_custkey AS id, c_mktsegment AS y_true,
             CASE WHEN c_custkey % 10 < 8 THEN c_mktsegment
                  ELSE CASE c_mktsegment
                    WHEN 'AUTOMOBILE' THEN 'BUILDING'
                    WHEN 'BUILDING' THEN 'FURNITURE'
                    WHEN 'FURNITURE' THEN 'HOUSEHOLD'
                    WHEN 'HOUSEHOLD' THEN 'MACHINERY'
                    ELSE 'AUTOMOBILE' END END AS y_pred
      FROM customer),
    per_class AS (
      SELECT cls,
             SUM(CASE WHEN y_true = cls AND y_pred = cls
                      THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN y_true != cls AND y_pred = cls
                      THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN y_true = cls AND y_pred != cls
                      THEN 1 ELSE 0 END) AS fn
      FROM labeled
      CROSS JOIN (SELECT UNNEST(['AUTOMOBILE', 'BUILDING', 'FURNITURE',
                                 'HOUSEHOLD', 'MACHINERY']) AS cls)
      GROUP BY cls),
    scored AS (
      SELECT cls, tp, fp, fn,
             CAST(tp AS DOUBLE) / (tp + fp) AS prec,
             CAST(tp AS DOUBLE) / (tp + fn) AS rec
      FROM per_class),
    overall AS (
      SELECT CAST(SUM(tp) AS DOUBLE) / (SUM(tp) + SUM(fp))
               AS micro_accuracy
      FROM scored)
    SELECT cls,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           ROUND(prec, 6) AS precision_r,
           ROUND(rec, 6) AS recall_r,
           ROUND(2.0 * prec * rec / (prec + rec), 6) AS f1_r,
           ROUND(micro_accuracy, 6) AS micro_accuracy_r,
           micro_accuracy > 0.75 AND micro_accuracy < 0.85
             AS accuracy_in_band
    FROM scored CROSS JOIN overall ORDER BY cls
    """,
    tags=("ml", "evaluation", "classification-report", "f1"),
)
def ml_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 — the multiclass evaluation
    breakdown the ML surface reports accuracy for but never
    decomposes: a PLANTED classifier (exactly 8-of-10 ids correct,
    the rest confused into a fixed class rotation, so every cell of
    the confusion structure is deterministic) is scored class by
    class. Because the confusion is a pure rotation, every class's
    false positives come from exactly one neighbor and precision ~
    recall ~ 0.8 with exact-integer TP/FP/FN; micro accuracy is
    pinned inside (0.75, 0.85). The per-class fan-out is a broadcast
    5-row class grid (the conditional-aggregation pivot), so the
    whole report costs one scan + one 5-group aggregate.

    Real usage swaps the planted y_pred for a model's prediction
    column — the report plan is unchanged."""
    cust = load_table(spark, sf_dir, "customer")
    rot = (
        "CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'BUILDING'"
        " WHEN 'BUILDING' THEN 'FURNITURE'"
        " WHEN 'FURNITURE' THEN 'HOUSEHOLD'"
        " WHEN 'HOUSEHOLD' THEN 'MACHINERY' ELSE 'AUTOMOBILE' END"
    )
    labeled = cust.select(
        F.col("c_mktsegment").alias("y_true"),
        F.expr(
            f"CASE WHEN c_custkey % 10 < 8 THEN c_mktsegment"
            f" ELSE {rot} END"
        ).alias("y_pred"),
    )
    classes = spark.createDataFrame(
        [(c,) for c in ("AUTOMOBILE", "BUILDING", "FURNITURE",
                        "HOUSEHOLD", "MACHINERY")],
        "cls string",
    )
    per_class = (
        labeled.crossJoin(F.broadcast(classes))
        .groupBy("cls")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN y_true = cls AND y_pred = cls"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("tp"),
            F.sum(
                F.expr(
                    "CASE WHEN y_true != cls AND y_pred = cls"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("fp"),
            F.sum(
                F.expr(
                    "CASE WHEN y_true = cls AND y_pred != cls"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("fn"),
        )
    )
    scored = per_class.select(
        "cls", "tp", "fp", "fn",
        F.expr("CAST(tp AS DOUBLE) / (tp + fp)").alias("prec"),
        F.expr("CAST(tp AS DOUBLE) / (tp + fn)").alias("rec"),
    )
    overall = scored.agg(
        F.expr(
            "CAST(SUM(tp) AS DOUBLE) / (SUM(tp) + SUM(fp))"
        ).alias("micro_accuracy")
    )
    return (
        scored.crossJoin(F.broadcast(overall))
        .select(
            "cls",
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            F.col("fn").cast("bigint").alias("fn"),
            F.round("prec", 6).alias("precision_r"),
            F.round("rec", 6).alias("recall_r"),
            F.expr("ROUND(2.0 * prec * rec / (prec + rec), 6)").alias(
                "f1_r"
            ),
            F.round("micro_accuracy", 6).alias("micro_accuracy_r"),
            F.expr(
                "micro_accuracy > 0.75 AND micro_accuracy < 0.85"
            ).alias("accuracy_in_band"),
        )
        .orderBy("cls")
    )


@register(
    "ml_word2vec_synonyms",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    vocab AS (
      SELECT term FROM toks GROUP BY term HAVING COUNT(*) >= 5
    )
    SELECT CAST((SELECT COUNT(*) FROM vocab) AS BIGINT) AS vocab_size,
           16 AS vector_dim,
           CAST(5 AS BIGINT) AS n_synonyms,
           TRUE AS query_excluded,
           TRUE AS sims_in_range,
           TRUE AS vectors_nonzero
    FROM (VALUES (1)) v(x)
    """,
    tags=("ml", "embeddings", "word2vec", "invariant"),
)
def ml_word2vec_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Word2Vec (skip-gram, MLlib) trained on the tokenized
    documents corpus, then queried with findSynonyms('spark', 5) — the
    train-your-own-embeddings surface beside the fixture-provided
    embedding column the ANN family searches. Constant+anchor
    invariant oracle: the learned VOCABULARY SIZE is a data anchor
    DuckDB reproduces exactly (Word2Vec admits terms with total corpus
    frequency >= minCount=5 — the same HAVING), the vector dimension
    is the requested 16, the synonym list has exactly 5 rows that
    exclude the query word, all cosines lie in [-1, 1], and every
    learned vector has a positive finite norm (no collapsed training).
    The corpus is synthetic-random, so synonym IDENTITIES are noise —
    asserting them would pin chance (the mlplans module contract);
    distributional checks live in tests.

    Determinism: numPartitions=1 + seed=0 makes the distributed SGD
    schedule reproducible; at 100 TB numPartitions scales out and
    per-partition gradients merge (the documented MLlib trade of
    determinism for throughput — the anchor columns are partitioning-
    independent either way)."""
    from pyspark.ml.feature import Word2Vec

    # NULL-text filter: split(NULL) hands Word2Vec a NULL token
    # array, which dies deep in the fit with an opaque Scala NPE
    # (vocab is unaffected — NULL text contributes no tokens)
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    ).select(F.split("text", " ").alias("toks"))
    model = Word2Vec(
        vectorSize=16,
        minCount=5,
        numPartitions=1,
        maxIter=1,
        seed=0,
        inputCol="toks",
        outputCol="w2v",
    ).fit(docs)
    vecs = model.getVectors()  # (word, vector)
    syn = model.findSynonyms("spark", 5)  # (word, similarity)
    from pyspark.ml.functions import vector_to_array

    vec_stats = vecs.select(
        F.aggregate(
            vector_to_array("vector"), F.lit(0.0), lambda a, x: a + x * x
        ).alias("sq")
    ).agg(
        F.count("*").cast("bigint").alias("vocab_size"),
        (F.min("sq") > 0).alias("vectors_nonzero"),
    )
    syn_stats = syn.agg(
        F.count("*").cast("bigint").alias("n_synonyms"),
        F.max(F.col("word") == "spark").alias("has_query"),
        ((F.min("similarity") >= -1.0) & (F.max("similarity") <= 1.0)).alias(
            "sims_in_range"
        ),
    )
    return vec_stats.crossJoin(F.broadcast(syn_stats)).select(
        "vocab_size",
        F.lit(16).alias("vector_dim"),
        "n_synonyms",
        (~F.col("has_query")).alias("query_excluded"),
        "sims_in_range",
        "vectors_nonzero",
    )


@register(
    "ml_aft_survival",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('aft-v1|' || CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 3 AS xp,
             MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS fe_us,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fp_us
      FROM events WHERE {EVENTS_WELL_FORMED_SQL} GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN fp_us IS NULL
                          OR (fp_us - fe_us) * EXP(-CAST(xp AS DOUBLE))
                             > 259200000000.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_censored,
           TRUE AS coef_recovers_plant,
           TRUE AS quantiles_monotone,
           TRUE AS predictions_positive
    FROM per_user
    """,
    tags=("ml", "survival", "aft", "invariant"),
)
def ml_aft_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accelerated-failure-time survival regression (MLlib
    AFTSurvivalRegression, Weibull) on time-to-first-purchase with a
    3-day censoring horizon — the PARAMETRIC complement of
    ev_kaplan_meier's non-parametric curve: log(T) = b0 + b1*x + eps
    with x = the user's event count. Higher activity mechanically
    shortens time-to-purchase in this fixture (constant per-event
    purchase probability over a fixed 30-day window), so the fitted
    b1 MUST be negative — a direction the model has to learn from
    censored likelihood, not a tautology. Constant+anchor oracle:
    n_users and the CENSORED COUNT are exact data anchors (the
    censoring rule is deterministic timestamp math DuckDB reproduces);
    the coefficient sign, quantile monotonicity (p10 < p50 < p90 of
    the predicted survival time for a probe user), and positivity are
    the trained-model bands.

    Scale: one user-keyed aggregate builds the survival frame (one
    row per user); the L-BFGS fit is MLlib's distributed aggregator;
    censoring at a fixed horizon is how production time-to-event
    tables bound label lag at 100 TB."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import AFTSurvivalRegression

    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    xp = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("aft-v1|"), F.col("user_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 3
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("fe_us"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).alias(
            "fp_us"
        ),
    ).withColumn("x", xp.cast("double"))
    horizon_us = 259200000000  # 3 days
    # planted acceleration: observed duration = raw * exp(-x), so the
    # AFT coefficient on x has true value -1
    planted = (F.col("fp_us") - F.col("fe_us")) * F.exp(-F.col("x"))
    frame = per_user.select(
        "x",
        F.when(F.col("fp_us").isNull() | (planted > horizon_us), 0.0)
        .otherwise(1.0)
        .alias("censor"),
        (
            F.least(F.coalesce(planted, F.lit(float(horizon_us))), F.lit(float(horizon_us)))
            / 86400000000.0
            + 0.001  # clamp away from zero (first event == first purchase)
        ).alias("label"),
    )
    assembled = VectorAssembler(inputCols=["x"], outputCol="features").transform(frame)
    aft = AFTSurvivalRegression(
        censorCol="censor",
        quantileProbabilities=[0.1, 0.5, 0.9],
        quantilesCol="q",
    )
    model = aft.fit(assembled)
    coef = float(model.coefficients[0])
    from pyspark.ml.functions import vector_to_array

    qa = vector_to_array("q")
    pred = model.transform(assembled.limit(1)).select(
        "prediction", qa[0].alias("q10"), qa[1].alias("q50"), qa[2].alias("q90")
    ).collect()[0]
    anchors = per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("fp_us").isNull() | (planted > horizon_us), 1).otherwise(0))
        .cast("bigint")
        .alias("n_censored"),
    )
    return anchors.select(
        "n_users",
        "n_censored",
        F.lit(coef < -0.5).alias("coef_recovers_plant"),
        F.lit(pred.q10 < pred.q50 < pred.q90).alias("quantiles_monotone"),
        F.lit(pred.prediction > 0 and pred.q10 > 0).alias("predictions_positive"),
    )


@register(
    "ml_prefixspan_sequences",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    first5 AS (SELECT user_id, event_type, rn FROM ranked WHERE rn <= 5),
    singles AS (
      SELECT event_type AS pattern,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS freq
      FROM first5 GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type || '>' || b.event_type AS pattern,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS freq
      FROM first5 a JOIN first5 b
        ON a.user_id = b.user_id AND a.rn < b.rn
      GROUP BY 1
    ),
    allp AS (SELECT * FROM singles UNION ALL SELECT * FROM pairs),
    tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM first5)
    SELECT pattern, freq
    FROM allp, tot
    WHERE freq * 5 >= n
    ORDER BY pattern
    """,
    tags=("ml", "sequential-patterns", "prefixspan"),
)
def ml_prefixspan_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib PrefixSpan sequential-pattern mining over each user's
    FIRST FIVE events (time-ordered, event_id tie-break) — the
    order-aware sibling of ml_fpgrowth_itemsets: 'click then purchase'
    is a different pattern from 'purchase then click'. Patterns up to
    length 2 with support >= 20% are returned, and — unusually for an
    ML surface — this carries a FULL VALUE oracle: a length-<=2
    gap-allowed subsequence's support is exactly the count of users
    with an occurrence of a at an earlier rank than an occurrence of
    b, which DuckDB computes with a rank self-join. The 20% support
    cut is applied identically POST-HOC on both sides (freq*5 >= n),
    so MLlib's internal minSupport boundary semantics never enter the
    comparison (PrefixSpan runs at a looser 0.1).

    The 5-event prefix is what makes the mining non-vacuous: over full
    67-event histories every type precedes every type for every user
    and all supports collapse to n. Scale: sequence assembly is one
    user-keyed window + collect of 5 structs; PrefixSpan itself is
    MLlib's distributed projected-database algorithm."""
    from pyspark.ml.fpm import PrefixSpan

    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    first5 = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= 5)
    seqs = first5.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(rn, event_type))),"
            " s -> array(s.event_type))"
        ).alias("sequence")
    )
    n = seqs.count()  # bounded: one integer, the sequence-table size
    ps = PrefixSpan(minSupport=0.1, maxPatternLength=2, sequenceCol="sequence")
    freq = ps.findFrequentSequentialPatterns(seqs)
    return (
        freq.select(
            F.expr("array_join(transform(sequence, x -> x[0]), '>')").alias(
                "pattern"
            ),
            F.col("freq").cast("bigint").alias("freq"),
        )
        .where(F.col("freq") * 5 >= F.lit(n))
        .orderBy("pattern")
    )


@register(
    "ml_lda_topics",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    )
    SELECT CAST((SELECT COUNT(DISTINCT term) FROM toks) AS BIGINT) AS vocab_size,
           CAST((SELECT COUNT(text) FROM documents) AS BIGINT) AS n_docs,
           3 AS k_topics,
           TRUE AS topics_nonnegative,
           TRUE AS doc_mixtures_are_distributions,
           TRUE AS perplexity_finite
    FROM (VALUES (1)) v(x)
    """,
    tags=("ml", "topics", "lda", "invariant"),
)
def ml_lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LDA (MLlib EM optimizer, k=3, seed=0) over the
    CountVectorized documents corpus — the topic-model surface beside
    Word2Vec (embeddings) and TF-IDF (weighting). Constant+anchor
    invariant oracle: the vocabulary size is a data anchor DuckDB
    reproduces (CountVectorizer at minDF=1 admits every distinct
    token), the document count and k are constants, and the trained-
    model bands assert real distributions came back: every topic's
    expected-count matrix is nonnegative with positive per-topic
    mass (EM keeps it unnormalized), every document's topic mixture
    sums to 1 within 1e-6, and the training-set perplexity is finite
    and positive.
    The corpus is synthetic-random so topic IDENTITIES are noise —
    asserting them would pin chance (mlplans module contract).

    Scale: CountVectorizer is one fit pass + a row-local transform;
    EM LDA is MLlib's distributed graph-based estimator; the checks
    are two aggregates over k=3 and n_docs rows."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizer
    from pyspark.ml.functions import vector_to_array

    # NULL-text filter (oracle anchors n_docs with COUNT(text) to
    # match): split(NULL) hands CountVectorizer a NULL token array,
    # which dies deep in the fit with an opaque Scala NPE
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    ).select("doc_id", F.split("text", " ").alias("toks"))
    cv = CountVectorizer(inputCol="toks", outputCol="features", minDF=1.0)
    cv_model = cv.fit(docs)
    # cached: three actions read vec (EM fit, the mixture check, the
    # perplexity pass) — uncached, each re-runs tokenize+CV-transform
    # over the scan (r10; values unchanged, caching is transparent)
    vec = cv_model.transform(docs).cache()
    lda = LDA(k=3, seed=0, maxIter=5, optimizer="em", featuresCol="features")
    model = lda.fit(vec)
    # topicsMatrix is vocab x k (tiny: bounded by the closed synthetic
    # vocabulary); under the EM optimizer entries are UNNORMALIZED
    # expected token counts, so the band asserts nonnegativity and
    # positive per-topic mass (normalizing would be vacuously 1)
    tm = model.topicsMatrix().toArray()
    topics_ok = bool((tm >= 0).all() and all(tm[:, j].sum() > 0 for j in range(3)))
    mix_ok = (
        model.transform(vec)
        .select(
            F.aggregate(
                vector_to_array("topicDistribution"), F.lit(0.0), lambda a, x: a + x
            ).alias("s")
        )
        .agg((F.max(F.abs(F.col("s") - 1.0)) < 1e-6).alias("ok"))
        .collect()[0]["ok"]
    )
    import math

    ppl = model.logPerplexity(vec)
    vec.unpersist(blocking=False)
    anchors = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    vocab = F.lit(len(cv_model.vocabulary)).cast("bigint")
    return anchors.select(
        vocab.alias("vocab_size"),
        "n_docs",
        F.lit(3).alias("k_topics"),
        F.lit(bool(topics_ok)).alias("topics_nonnegative"),
        F.lit(bool(mix_ok)).alias("doc_mixtures_are_distributions"),
        F.lit(bool(math.isfinite(ppl) and ppl > 0)).alias("perplexity_finite"),
    )


@register(
    "ml_feature_importance_planted",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN embedding[1] + embedding[2] > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           TRUE AS informative_dims_top2,
           TRUE AS accuracy_beats_chance,
           TRUE AS importances_normalized
    FROM embeddings WHERE {EMBEDDING_WELL_FORMED_SQL}
    """,
    tags=("ml", "interpretability", "feature-importance", "invariant"),
)
def ml_feature_importance_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-forest feature importances with a PLANTED learnable
    signal — unlike the rest of the ml_* family (whose fixture labels
    are random relative to the features, so chance-level metrics are
    the honest expectation), here the label IS a function of the
    features (y = 1 iff dim0 + dim1 > 0 — DuckDB reproduces the class
    balance as an exact data anchor), so the model must actually
    LEARN: the two informative dims must own the top-2 Gini
    importances among 8 features, held-out accuracy must beat chance
    by a wide band (a depth-5 forest approximates the oblique
    boundary axis-by-axis), and the importance vector must sum to 1.

    Scale: the 8-feature assembly is row-local; RF training is
    MLlib's distributed histogram-based learner; the checks collapse
    to constant-size driver arithmetic on the fitted model."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    emb = well_formed_embeddings(load_table(spark, sf_dir, "embeddings"))
    base = emb.select(
        *[F.col("embedding")[d].cast("double").alias(f"x{d}") for d in range(8)],
        F.when(
            F.col("embedding")[0].cast("double")
            + F.col("embedding")[1].cast("double")
            > 0,
            1.0,
        )
        .otherwise(0.0)
        .alias("label"),
    )
    assembled = VectorAssembler(
        inputCols=[f"x{d}" for d in range(8)], outputCol="features"
    ).transform(base)
    train, test = assembled.randomSplit([0.7, 0.3], seed=0)
    rf = RandomForestClassifier(
        numTrees=20, maxDepth=5, seed=0, labelCol="label", featuresCol="features"
    )
    model = rf.fit(train)
    imp = list(model.featureImportances.toArray())
    top2 = sorted(range(8), key=lambda d: -imp[d])[:2]
    acc = (
        model.transform(test)
        .agg(F.avg((F.col("prediction") == F.col("label")).cast("double")))
        .collect()[0][0]
    )
    anchors = emb.agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(
            F.when(
                F.col("embedding")[0].cast("double")
                + F.col("embedding")[1].cast("double")
                > 0,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_pos"),
    )
    return anchors.select(
        "n_vecs",
        "n_pos",
        F.lit(set(top2) == {0, 1}).alias("informative_dims_top2"),
        F.lit(bool(acc > 0.8)).alias("accuracy_beats_chance"),
        F.lit(bool(abs(sum(imp) - 1.0) < 1e-6)).alias("importances_normalized"),
    )
