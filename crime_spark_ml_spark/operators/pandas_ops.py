"""Arrow-vectorized Python operators — the sanctioned slow path.

Policy (SURVEY.md §2.11): built-in JVM expressions first; when Python
is genuinely needed (native libs, custom stateful logic), only
Arrow-batched forms — ``pandas_udf``, ``applyInPandas``,
``applyInPandasWithState`` — never row-at-a-time Python UDFs.

Each operator here backs a registered plan:
- ``source_stats_apply``: per-group logic via applyInPandas, tested
  against the groupBy aggregate it matches;
- ``running_totals_stateful`` and ``ewma_last_n_stateful``: arbitrary
  per-group Python state via applyInPandasWithState — the escape
  hatch Structured Streaming's built-in aggregations can't express;
- ``geo_mean_udaf`` and ``bloom_probe_udf``: a grouped-aggregate and a
  scalar pandas UDF.

The numpy kernels behind the engine's hot paths (LSH, MinHash, PQ/IVF
encode) live with their operators in similarity.py, dedup.py and
ml/pq.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


SOURCE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("mean_chars", T.DoubleType()),
        T.StructField("max_chars", T.LongType()),
    ]
)


def source_stats_apply(docs: DataFrame) -> DataFrame:
    """Per-source document stats via applyInPandas (each group becomes
    one pandas frame in a worker). Twin of the pure-SQL aggregate —
    used where the per-group logic outgrows SQL (model scoring,
    scipy stats, …)."""

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n_docs": [len(pdf)],
                "mean_chars": [round(float(pdf["n_chars"].mean()), 6)],
                "max_chars": [int(pdf["n_chars"].max())],
            }
        )

    return docs.select("source", "n_chars").groupBy("source").applyInPandas(
        stats, SOURCE_STATS_SCHEMA
    )


RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("total_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cnt", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ]
)


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per event_type running count + value sum, re-emitted every
    micro-batch. State is a 2-field tuple per key — sharded by the
    grouping key across executors, checkpointed by the engine."""

    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cnt, val = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            cnt += len(pdf)
            val += float(pdf["value"].sum())
        state.update((cnt, val))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "total_events": [cnt],
                "total_value": [round(val, 6)],
            }
        )

    return (
        events.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


EWMA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("total_seen", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("total_seen", T.LongType()),
        T.StructField("ts", T.ArrayType(T.LongType())),
        T.StructField("eid", T.ArrayType(T.LongType())),
        T.StructField("val", T.ArrayType(T.DoubleType())),
    ]
)


def ewma_last_n_stateful(
    events: DataFrame, alpha: float = 0.2, last_n: int = 32
) -> DataFrame:
    """Streaming twin of plans/events.ev_ewma_value: per-user EWMA over
    the user's last ``last_n`` events, as an applyInPandasWithState
    operator. State per key is BOUNDED — the top-``last_n`` events by
    (ts_us, event_id) plus one counter — maintained incrementally
    across micro-batches, so arrival order across batches doesn't
    matter and state never grows with the stream. Each batch re-emits
    (total_seen, n_events, unrounded ewma); the fold replays the kept
    window oldest-first with the same IEEE double recursion as the
    batch twin (rounding is left to the caller — Python's round()
    banker's-rounds, F.round half-ups)."""

    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            total, ts, eid, val = state.get
            ts, eid, val = list(ts), list(eid), list(val)
        else:
            total, ts, eid, val = 0, [], [], []
        for pdf in batches:
            total += len(pdf)
            ts.extend(int(x) for x in pdf["ts_us"])
            eid.extend(int(x) for x in pdf["event_id"])
            val.extend(float(x) for x in pdf["value"])
        order = np.lexsort((np.asarray(eid), np.asarray(ts)))[-last_n:]
        ts = [ts[i] for i in order]
        eid = [eid[i] for i in order]
        val = [val[i] for i in order]
        state.update((total, ts, eid, val))
        acc = val[0]
        for x in val[1:]:
            acc = alpha * x + (1.0 - alpha) * acc
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "total_seen": [total],
                "n_events": [len(val)],
                "ewma": [acc],
            }
        )

    return (
        events.select("user_id", "ts_us", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=EWMA_OUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def geo_mean_udaf():
    """Arrow-batched GROUPED_AGG pandas UDF (a user-defined AGGREGATE
    — the one pandas-UDF variant the rest of this module doesn't
    cover): geometric mean of a numeric column. Executes as an
    ArrowAggregatePython node (never BatchEvalPython). Determinism:
    grouped-agg input order is partition-dependent, so the values are
    SORTED before an fsum-based reduction — the result is independent
    of shuffle layout down to the last ulp."""

    @pandas_udf("double")
    def _geo_mean(v: pd.Series) -> float:
        import math

        vals = sorted(float(x) for x in v)
        return math.exp(math.fsum(math.log(x) for x in vals) / len(vals))

    return _geo_mean


def bloom_probe_udf(pos_broadcast, m_bits: int, k_hashes: int):
    """Arrow-batched Bloom membership probe: recomputes the builder's
    md5 double-hash positions (hashlib and Spark's md5 agree by
    definition) and tests them against the broadcast position set.
    Lives here (not in the plan module) so the pandas type annotations
    resolve — plans use postponed annotations without a module-level
    pandas import."""

    @pandas_udf("boolean")
    def _probe(digs: pd.Series) -> pd.Series:
        import hashlib

        s = pos_broadcast.value

        def probe(d: str) -> bool:
            return all(
                int(hashlib.md5(f"{d}|{j}".encode()).hexdigest()[:12], 16) % m_bits
                in s
                for j in range(1, k_hashes + 1)
            )

        return digs.map(probe)

    return _probe
