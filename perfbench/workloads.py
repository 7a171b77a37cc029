"""``crime_batch``: the reference's batch job through its public entry
point, one *pass* at a time, with the checks of its answers.

A pass returns ``[(request, seconds), ...]``, one request per stage of
the job: the EDA (everything before the fit, plus collecting the EDA
frames it returns), the model fit, and scoring the test rows with the
prediction write. Entry points are called through their modules at call
time, so the tracer's attribute patches take effect.
"""

from __future__ import annotations

import os
import shutil
import time

from . import inputs
from .trace import Tracer


class Check:
    """Counts correctness checks; a failed one is kept with its reason."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def __call__(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok


class CrimeBatch:
    """``workload.run_crime_workload`` over crimegen CSVs: CSV parsing,
    the EDA aggregates, the MLlib fit and the prediction write."""

    name = "crime_batch"
    trace_targets = {
        "crime_spark_ml_spark.workload:read_crime_csv": "sources.readers.read_crime_csv",
        "crime_spark_ml_spark.workload:pivot_counts": "operators.reshape.pivot_counts",
        "crime_spark_ml_spark.workload:label_encode": "operators.encode.label_encode",
        "crime_spark_ml_spark.workload:train_crime_model": "ml.pipeline.train_crime_model",
        "crime_spark_ml_spark.workload:write_predictions": "sources.writers.write_predictions",
    }

    LAYERS = {
        "spark.jobs": "count",
        "spark.stages": "count",
        "workload.eda_s": "s",
        "sources.readers.read_crime_csv_s": "s",
        "operators.reshape.pivot_counts_s": "s",
        "operators.encode.label_encode_s": "s",
        "operators.encode.label_encode.jobs": "count",
        "ml.pipeline.train_crime_model_s": "s",
        "ml.pipeline.train_crime_model.jobs": "count",
        "sources.writers.write_predictions_s": "s",
        "sources.writers.write_predictions.bytes": "bytes",
        "model_accuracy": "ratio",
    }
    # a smaller forest than the library default (40 trees, depth 10), to
    # fit the benchmark's time budget; the pipeline's stages are the same
    MODEL = {"num_trees": 20, "max_depth": 5}

    def __init__(self, seed: int, small: bool):
        self.seed = seed
        self.train_rows, self.test_rows = (2_000, 600) if small else (16_000, 5_000)
        self.passes = 0

    def prepare(self, run_dir: str) -> dict:
        path, fp = inputs.crime_csvs(self.seed, self.train_rows, self.test_rows)
        self.train = os.path.join(path, "train")
        self.test = os.path.join(path, "test")
        self.out_root = os.path.join(run_dir, "predictions")
        return fp

    def run_pass(self, spark, tracer) -> list[tuple[str, float]]:
        from crime_spark_ml_spark import workload

        out = os.path.join(self.out_root, str(self.passes))
        self.passes += 1
        # always on and bound to no session: times the fit in every pass
        # and sets no job groups
        marks = Tracer(True)
        fit_target = {"crime_spark_ml_spark.workload:train_crime_model": "fit"}
        with marks.patched(fit_target), tracer.span("workload.run_crime_workload"):
            t0 = time.perf_counter()
            res = workload.run_crime_workload(spark, self.train, self.test, output_path=out, **self.MODEL)
            t1 = time.perf_counter()
            with tracer.span("workload.eda_collect"):
                eda = {
                    "category": res.category_counts.collect(),
                    "district": res.district_counts.collect(),
                    "pivot": res.district_category_pivot.collect(),
                    "corr": res.corr_with_target.collect(),
                }
            t2 = time.perf_counter()
        (fit,) = marks.spans
        self.last = (res, eda, out)
        return [("eda", (fit.start - t0) + (t2 - t1)), ("fit", fit.dur), ("score_write", t1 - fit.end)]

    def after_pass(self, spark) -> None:
        # every pass re-reads and re-parses its CSVs; the workload's own
        # .cache() calls would otherwise carry data across passes
        spark.catalog.clearCache()

    def check(self, spark, check: Check) -> dict:
        from crime_spark_ml_spark.sources.crimegen import CATEGORIES

        res, eda, out = self.last
        check(sum(r.cnt for r in eda["category"]) == self.train_rows, "category counts sum to train rows")
        check(sum(r.cnt for r in eda["district"]) == self.train_rows, "district counts sum to train rows")
        pivot_total = sum(sum(v for k, v in r.asDict().items() if k != "PdDistrict" and v) for r in eda["pivot"])
        check(pivot_total == self.train_rows, "pivot cells sum to train rows")
        check(len(eda["corr"]) == 8, "top-8 correlations")
        written = spark.read.parquet(out)
        check(written.count() == self.test_rows, "prediction rows equal test rows")
        check(
            written.where(~written.Category.isin(*CATEGORIES)).count() == 0,
            "predicted categories are known labels",
        )
        majority = max(r.cnt for r in eda["category"]) / self.train_rows
        check(res.accuracy > majority, f"accuracy {res.accuracy:.3f} above majority {majority:.3f}")
        shutil.rmtree(self.out_root, ignore_errors=True)
        return {"model_accuracy": res.accuracy, "answer_quality": res.accuracy}

    def layer_metrics(self, tracer, root) -> dict:
        run = tracer.within(root, "workload.run_crime_workload")[0]
        fit = tracer.within(root, "ml.pipeline.train_crime_model")[0]
        write = tracer.within(root, "sources.writers.write_predictions")[0]
        collect = tracer.within(root, "workload.eda_collect")[0]
        encode = tracer.within(root, "operators.encode.label_encode")[0]
        return {
            # lazy: plan building only; their jobs run under later spans
            "sources.readers.read_crime_csv_s": tracer.within(root, "sources.readers.read_crime_csv")[0].dur,
            "operators.reshape.pivot_counts_s": tracer.within(root, "operators.reshape.pivot_counts")[0].dur,
            # runs a job per string column to build its dictionary
            "operators.encode.label_encode_s": encode.dur,
            "operators.encode.label_encode.jobs": tracer.inclusive(encode)[0],
            # everything the job does before the fit, plus collecting the
            # lazy EDA frames it returns
            "workload.eda_s": (fit.start - run.start) + collect.dur,
            "ml.pipeline.train_crime_model_s": fit.dur,
            "ml.pipeline.train_crime_model.jobs": tracer.inclusive(fit)[0],
            "sources.writers.write_predictions_s": write.dur,
            "sources.writers.write_predictions.bytes": _dir_bytes(self.last[2]),
        }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )

