"""End-to-end reference-workload test: CSV in → EDA + model +
prediction table out (the switch-from-the-reference path)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crime_spark_ml_spark.sources.crimegen import crime_table, crime_test_table
from crime_spark_ml_spark.workload import run_crime_workload


def test_crime_workload_end_to_end(spark, tmp_path):
    train_dir = str(tmp_path / "train")
    test_dir = str(tmp_path / "test")
    out_dir = str(tmp_path / "preds")
    crime_table(spark, 1500).coalesce(1).write.option("header", "true").csv(train_dir)
    crime_test_table(spark, 300).coalesce(1).write.option("header", "true").csv(test_dir)

    res = run_crime_workload(
        spark, train_dir, test_dir, output_path=out_dir, num_trees=10, max_depth=6
    )
    assert res.category_counts.count() == 39
    assert res.district_counts.count() == 10
    pivot = res.district_category_pivot
    assert pivot.count() == 10 and len(pivot.columns) == 40  # district + 39 cats
    # pivot rows come back in district-count-desc order (P6 reindex)
    districts = [r.PdDistrict for r in pivot.collect()]
    counts = {r.PdDistrict: r.cnt for r in res.district_counts.collect()}
    assert districts == sorted(districts, key=lambda d: (-counts[d], d))
    assert res.corr_with_target.count() == 8
    # driver-built corr table: a JVM LocalRelation, no list-built scan
    corr_plan = res.corr_with_target._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in corr_plan and "ExistingRDD" not in corr_plan
    assert 0.0 < res.accuracy <= 1.0
    # predictions come from the TEST table (300 rows), written to parquet
    assert res.predictions.count() == 300
    back = spark.read.parquet(out_dir)
    assert back.count() == 300 and set(back.columns) == {"Id", "Category"}


def test_crime_test_csv_schema_alignment(spark, tmp_path):
    """The 6-column test CSV must read through its OWN schema — the
    9-column train schema binds positionally and silently misaligns."""
    from pyspark.sql import functions as F

    from crime_spark_ml_spark.sources.readers import read_crime_test_csv

    test_dir = str(tmp_path / "t")
    src = crime_test_table(spark, 120)
    src.coalesce(1).write.option("header", "true").csv(test_dir)
    back = read_crime_test_csv(spark, test_dir)
    assert back.columns == ["Dates", "DayOfWeek", "PdDistrict", "Address", "X", "Y"]
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b  # full-content equality, all columns aligned
    assert back.where(F.col("X").isNull() | F.col("Y").isNull()).count() == 0


def test_datapipe_cli_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """The corpus-pipeline CLI funnel: dedup shrinks the corpus, every
    chunk token lands in a pack, held-out carve is ~25%."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import run_datapipe

    monkeypatch.setattr(
        sys,
        "argv",
        ["run_datapipe.py", "--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path)],
    )
    assert run_datapipe.main() == 0
    lines = capsys.readouterr().out.strip().splitlines()
    stages = {}
    for ln in lines[:-1]:
        k, v = ln.split()
        stages[k] = int(v)
    assert stages["after_near_dedup"] <= stages["after_exact_dedup"] <= stages["input_docs"]
    assert stages["chunks"] > stages["after_near_dedup"]  # docs split into >1 chunk
    assert 0 < stages["heldout_docs"] < stages["after_near_dedup"] // 2
    packed = spark.read.parquet(str(tmp_path / "packed"))
    assert packed.where(F.col("pack_id").isNull()).count() == 0


def test_run_ann_cli_build_then_probe(tmp_path, monkeypatch):
    """The ANN CLI end to end in-process: build+persist an index at
    sf0.001, then probe it and check every query ranks k neighbors."""
    import contextlib
    import io
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import run_ann

    idx = str(tmp_path / "idx")
    monkeypatch.setattr(
        sys, "argv",
        ["run_ann.py", "build", "--sf-dir", "/root/testdata/sf0.001", "--index", idx],
    )
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run_ann.main() == 0
    assert "indexed" in out.getvalue()

    monkeypatch.setattr(
        sys, "argv",
        ["run_ann.py", "probe", "--index", idx, "--sf-dir", "/root/testdata/sf0.001",
         "--query-ids", "0,1,2", "--k", "3"],
    )
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run_ann.main() == 0
    lines = [ln for ln in out.getvalue().splitlines() if ln.startswith("query ")]
    assert len(lines) == 9  # 3 queries x k=3

    # append twins of vectors 0-9 under shifted ids, then stats must
    # report the appended mass and the retrain trigger at a low bar
    monkeypatch.setattr(
        sys, "argv",
        ["run_ann.py", "append", "--index", idx,
         "--source", "/root/testdata/sf0.001/embeddings.parquet",
         "--where", "vec_id < 10", "--id-shift", "1000000"],
    )
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run_ann.main() == 0
    assert "appended 10" in out.getvalue()

    monkeypatch.setattr(
        sys, "argv",
        ["run_ann.py", "stats", "--index", idx, "--max-staleness", "0.01"],
    )
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run_ann.main() == 0
    assert "retrain_needed True" in out.getvalue()


def test_run_query_cli_smoke():
    """The generic query-runner CLI: --list filters by tag, --oracle
    prints SQL, a real run reports the row count."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    out = subprocess.run(
        [sys.executable, "tools/run_query.py", "--list", "--tag", "twa"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0 and "ev_time_weighted_avg" in out.stdout
    out = subprocess.run(
        [sys.executable, "tools/run_query.py", "a7_topk", "--oracle"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0 and "SELECT" in out.stdout
    out = subprocess.run(
        [sys.executable, "tools/run_query.py", "a7_topk", "--limit", "3"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0 and "[a7_topk] 8 rows" in out.stdout
