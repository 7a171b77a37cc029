"""Arrow-path operators: applyInPandas against the SQL aggregate it
matches, and the applyInPandasWithState streaming escape hatch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crime_spark_ml_spark.operators.pandas_ops import (
    running_totals_stateful,
    source_stats_apply,
)
from crime_spark_ml_spark.sources.catalog import load_table


def test_apply_in_pandas_matches_sql_agg(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    arrow = {r.source: (r.n_docs, r.mean_chars, r.max_chars)
             for r in source_stats_apply(docs).collect()}
    sql = {
        r.source: (r.n_docs, round(r.mean_chars, 6), r.max_chars)
        for r in docs.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.avg("n_chars").alias("mean_chars"),
            F.max("n_chars").alias("max_chars"),
        ).collect()
    }
    assert set(arrow) == set(sql)
    for k in sql:
        assert arrow[k][0] == sql[k][0] and arrow[k][2] == sql[k][2]
        assert arrow[k][1] == pytest.approx(sql[k][1], abs=1e-6)


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState across two sequential micro-batches:
    state carries totals; the second emission reflects batch1+batch2."""
    import time

    data_dir = tmp_path / "ev"
    data_dir.mkdir()
    (data_dir / "b1.csv").write_text("click,1.0\nclick,2.0\nview,5.0\n")
    time.sleep(0.05)
    (data_dir / "b2.csv").write_text("click,4.0\n")
    parts = F.split("value", ",")
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1).text(str(data_dir))
        .select(parts.getItem(0).alias("event_type"),
                parts.getItem(1).cast("double").alias("value"))
    )
    out = running_totals_stateful(stream)
    emitted: list[tuple] = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: emitted.extend((bid, *r) for r in df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # final click state must be 3 events / 7.0 total; view 1 / 5.0
    finals = {}
    for _bid, etype, cnt, val in sorted(emitted):
        finals[etype] = (cnt, val)
    assert finals["click"] == (3, 7.0), emitted
    assert finals["view"] == (1, 5.0), emitted
