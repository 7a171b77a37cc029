"""Seeded benchmark inputs, cached under ``.perfbench/inputs/`` in the
checkout.

All crime rows come from ``sources.crimegen`` by import. Its generator is
a Spark job, so it runs once per checkout, in a child process with its
own JVM, to write a fixed pool of rows (``POOL_ROWS`` of
``crime_table(seed=POOL_SEED)``). A seed's inputs are then a seeded
sample of that pool, drawn and written in plain Python: no JVM starts
for them and the JVM under test has run nothing before set-up.

Every input is a pure function of its seed, so the parent commit and a
change read byte-identical inputs; ``fingerprint`` proves it (row counts
plus a SHA-256 over the files' bytes). Generation never runs inside a
timed region.

    python3 perfbench/inputs.py     # writes the pool, if missing
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench", "inputs")
POOL_ROWS = 100_000
POOL_SEED = 42
POOL = os.path.join(CACHE, f"crime-pool-{POOL_ROWS}-s{POOL_SEED}")
NUMERIC = ("X", "Y")
# the reference's test.csv has no label columns
TEST_DROP = ("Category", "Descript", "Resolution")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_FINGERPRINT.json"))


def fingerprint(path: str, rows: dict[str, int]) -> dict:
    """Row counts and a content hash over every data file under ``path``
    (names sorted)."""
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            if name.startswith(("_", ".")):
                continue
            with open(os.path.join(dirpath, name), "rb") as f:
                h.update(f.read())
    return {"rows": rows, "sha256": h.hexdigest()[:16]}


def _cached(path: str, build) -> dict:
    """Build ``path`` once; the fingerprint file marks it complete."""
    if not _done(path):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        fp = fingerprint(path, build(path))
        with open(os.path.join(path, "_FINGERPRINT.json"), "w") as f:
            json.dump(fp, f, sort_keys=True)
    with open(os.path.join(path, "_FINGERPRINT.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ pool
def _write_pool(path: str) -> dict[str, int]:
    """Runs in the child process: crimegen rows as one CSV with header."""
    sys.path.insert(0, ROOT)
    from crime_spark_ml_spark import session
    from crime_spark_ml_spark.sources.crimegen import crime_table
    from perfbench import run

    run.configure_env()
    spark = session.get_spark(
        "perfbench-inputs", cpus=run.cores(), driver_memory=run.HEAP, extra_conf=run.session_conf()
    )
    out = os.path.join(path, "spark-out")
    crime_table(spark, POOL_ROWS, seed=POOL_SEED).coalesce(1).write.option("header", "true").csv(out)
    run.tear_down(spark)
    (part,) = [f for f in os.listdir(out) if f.endswith(".csv")]
    os.rename(os.path.join(out, part), os.path.join(path, "pool.csv"))
    shutil.rmtree(out)
    return {"pool": POOL_ROWS}


def _pool_rows() -> tuple[list[str], list[list[str]]]:
    """The pool's header and rows; written by a child process the first
    time a checkout needs it."""
    if not _done(POOL):
        subprocess.run([sys.executable, os.path.abspath(__file__)], check=True)
    with open(os.path.join(POOL, "pool.csv"), newline="") as f:
        reader = csv.reader(f)
        header = next(reader)
        return header, list(reader)


def _write_csv(path: str, header: list[str], rows, keep: list[str]) -> None:
    cols = [header.index(c) for c in keep]
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(keep)
        w.writerows([r[i] for i in cols] for r in rows)


def _sample(seed: int, salt: int, n: int, n_pool: int) -> list[int]:
    return random.Random(seed * 1_000_003 + salt).sample(range(n_pool), n)


# ------------------------------------------------------------ per seed
def crime_csvs(seed: int, train_rows: int, test_rows: int) -> tuple[str, dict]:
    """``train/`` and ``test/`` CSV directories (one file each): disjoint
    seeded samples of the pool, the test one without label columns."""
    path = os.path.join(CACHE, f"crime-s{seed}-tr{train_rows}-te{test_rows}")

    def build(path):
        header, rows = _pool_rows()
        idx = _sample(seed, 1, train_rows + test_rows, len(rows))
        _write_csv(os.path.join(path, "train"), header, (rows[i] for i in idx[:train_rows]), header)
        test_cols = [c for c in header if c not in TEST_DROP]
        _write_csv(os.path.join(path, "test"), header, (rows[i] for i in idx[train_rows:]), test_cols)
        return {"train": train_rows, "test": test_rows}

    return path, _cached(path, build)


def stream_inputs(seed: int, train_rows: int, stream_rows: int) -> tuple[str, dict]:
    """``train/`` CSV for the model fit and ``stream.jsonl``, the labelled
    rows the stream generator sends, one JSON object a line (an empty
    CSV field is a NULL); the two samples are disjoint."""
    path = os.path.join(CACHE, f"stream-s{seed}-tr{train_rows}-p{stream_rows}")

    def build(path):
        header, rows = _pool_rows()
        idx = _sample(seed, 2, train_rows + stream_rows, len(rows))
        _write_csv(os.path.join(path, "train"), header, (rows[i] for i in idx[:train_rows]), header)
        with open(os.path.join(path, "stream.jsonl"), "w") as f:
            for i in idx[train_rows:]:
                rec = {c: (float(v) if c in NUMERIC else v or None) for c, v in zip(header, rows[i])}
                f.write(json.dumps(rec) + "\n")
        return {"train": train_rows, "stream": stream_rows}

    return path, _cached(path, build)


if __name__ == "__main__":
    _cached(POOL, _write_pool)
