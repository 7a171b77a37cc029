"""Property tests (SURVEY.md §5.4): cheap invariants over generated
inputs — fingerprint permutation-invariance, token-count agreement
with a Python reference, encode bijection, pivot/groupcount
consistency."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crime_spark_ml_spark.functions.text import fingerprint, n_tokens
from crime_spark_ml_spark.operators.encode import label_encode
from crime_spark_ml_spark.operators.reshape import pivot_counts
from crime_spark_ml_spark.sources.catalog import load_table

WORD = st.text(alphabet="abcdefg", min_size=1, max_size=6)
TEXT = st.lists(WORD, min_size=1, max_size=30).map(lambda ws: " ".join(ws))

prop = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@prop
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_token_count_matches_python(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {r.id: r.n for r in df.select("id", n_tokens("text").alias("n")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(t.split(" "))


@prop
@given(st.lists(WORD, min_size=1, max_size=20), st.randoms())
def test_fingerprint_permutation_invariant(spark, words, rnd):
    shuffled = list(words)
    rnd.shuffle(shuffled)
    df = spark.createDataFrame(
        [(0, " ".join(words)), (1, " ".join(shuffled))], "id long, text string"
    )
    fps = [r.fp for r in df.select(fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


@prop
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            st.sampled_from(["x", "y", "z", None]),
            st.sampled_from(["", "a", "ab", "b"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_label_encode_bijection(spark, rows):
    cols = ["u", "v", "w"]
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], "id long, u string, v string, w string"
    )
    enc = label_encode(df, cols).collect()
    for j, c in enumerate(cols):
        pairs = {(r[c], r[f"{c}_code"]) for r in enc}
        distinct = sorted({r[j] for r in rows} - {None})
        # codes are exactly 0..n-1 assigned in sorted order; NULL stays NULL
        want = {(v, i) for i, v in enumerate(distinct)}
        if any(r[j] is None for r in rows):
            want.add((None, None))
        assert pairs == want, c


def test_pivot_row_sums_equal_group_counts(spark, sf_dir):
    """A4 vs A2 consistency: pivot row sums == plain group counts."""
    orders = load_table(spark, sf_dir, "orders")
    pt = pivot_counts(orders, "o_orderpriority", "o_orderstatus", ("F", "O", "P"))
    pivot_totals = {
        r.o_orderpriority: r.F + r.O + r.P for r in pt.collect()
    }
    counts = {
        r.o_orderpriority: r.cnt
        for r in orders.groupBy("o_orderpriority").agg(F.count("*").alias("cnt")).collect()
    }
    assert pivot_totals == counts


def test_melt_pivot_inverse_shape(spark, sf_dir):
    """R1/R2 inverse-shape: melt of a 2-measure frame has 2n rows and
    re-pivoting recovers the original values."""
    from crime_spark_ml_spark.operators.reshape import melt

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_acctbal", F.col("s_nationkey").cast("double").alias("s_nationkey")
    )
    n = s.count()
    long = melt(s, ["s_suppkey"], ["s_acctbal", "s_nationkey"])
    assert long.count() == 2 * n
    wide = long.groupBy("s_suppkey").pivot("variable", ["s_acctbal", "s_nationkey"]).agg(
        F.first("value")
    )
    orig = {(r.s_suppkey): (r.s_acctbal, r.s_nationkey) for r in s.collect()}
    back = {(r.s_suppkey): (r.s_acctbal, r.s_nationkey) for r in wide.collect()}
    assert orig == back


def test_minhash_estimates_jaccard(spark):
    """MinHash's defining property: the fraction of agreeing signature
    components estimates the shingle-set Jaccard similarity."""
    from crime_spark_ml_spark.functions.hashing import shingles_expr
    from crime_spark_ml_spark.operators.dedup import minhash_signatures

    base = [f"w{i}" for i in range(40)]
    variant = base[:30] + [f"x{i}" for i in range(10)]  # ~60-75% shingle overlap
    docs = spark.createDataFrame(
        [(0, " ".join(base)), (1, " ".join(variant))], "doc_id long, text string"
    )
    sigs = {r.doc_id: r.minhash_sig
            for r in minhash_signatures(docs, num_hashes=128).collect()}
    agree = sum(a == b for a, b in zip(sigs[0], sigs[1])) / 128
    sh = {r.doc_id: set(r.s) for r in docs.selectExpr(
        "doc_id", f"{shingles_expr('text', 3)} AS s").collect()}
    true_j = len(sh[0] & sh[1]) / len(sh[0] | sh[1])
    assert abs(agree - true_j) < 0.15, (agree, true_j)


def test_dec_sum_partition_invariant(spark, sf_dir):
    """The engine's core exactness claim: decimal-accumulated sums are
    identical under any partitioning (double sums are not)."""
    from crime_spark_ml_spark.functions.aggs import dec_sum
    from crime_spark_ml_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice", "l_discount")
    expr = dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("s")
    results = {
        li.repartition(n).agg(expr).collect()[0].s for n in (1, 7, 32)
    }
    assert len(results) == 1, results  # bit-identical across partitionings


def test_parity_gate_detects_mismatch(spark, sf_dir):
    """Meta-guard: the parity harness itself must flag a wrong oracle —
    a gate that can't fail is no gate."""
    from crime_spark_ml_spark.plans.parity import compare_query
    from crime_spark_ml_spark.plans.parity import _duckdb_conn
    from crime_spark_ml_spark.plans.registry import QuerySpec
    from crime_spark_ml_spark.sources.catalog import load_table

    def fn(spark_, sf):
        return load_table(spark_, sf, "region").select("r_regionkey", "r_name")

    con = _duckdb_conn(sf_dir)
    good = QuerySpec("ok", fn, "SELECT r_regionkey, r_name FROM region")
    bad_vals = QuerySpec("bad_vals", fn, "SELECT r_regionkey + 1 AS r_regionkey, r_name FROM region")
    bad_cols = QuerySpec("bad_cols", fn, "SELECT r_regionkey AS wrong_name, r_name FROM region")
    bad_rows = QuerySpec("bad_rows", fn, "SELECT r_regionkey, r_name FROM region LIMIT 3")
    assert compare_query("ok", good, spark, con, sf_dir).status == "match"
    assert compare_query("bad_vals", bad_vals, spark, con, sf_dir).status == "MISMATCH"
    assert compare_query("bad_cols", bad_cols, spark, con, sf_dir).status == "MISMATCH"
    assert compare_query("bad_rows", bad_rows, spark, con, sf_dir).status == "MISMATCH"


@prop
@given(st.lists(TEXT, min_size=1, max_size=6), st.integers(2, 8), st.integers(1, 8))
def test_chunking_covers_every_token(spark, texts, chunk_size, stride):
    """Chunk invariants for any (chunk_size, stride ≤ chunk_size):
    concatenating stride-strided chunk prefixes reconstructs the doc
    exactly (no token lost or duplicated), and every chunk is ≤
    chunk_size tokens."""
    from crime_spark_ml_spark.operators.chunk import chunk_documents

    stride = min(stride, chunk_size)  # overlap mode: stride ≤ chunk
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = chunk_documents(df, chunk_size=chunk_size, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        assert all(r.n_tokens <= chunk_size for r in chunks)
        assert all(len(r.chunk_text.split(" ")) == r.n_tokens for r in chunks)
        # stride-strided reconstruction: first `stride` tokens of every
        # chunk, then the tail of the last one
        rebuilt: list[str] = []
        for r in chunks:
            toks = r.chunk_text.split(" ")
            rebuilt.extend(toks[:stride])
        last = chunks[-1].chunk_text.split(" ")
        rebuilt.extend(last[stride:])
        assert rebuilt == t.split(" "), (chunk_size, stride, t)


@prop
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_normalization_idempotent(spark, texts):
    """normalize(normalize(x)) == normalize(x) for arbitrary word
    soups with injected punctuation/case noise."""
    noisy = [f"<<{t.upper()}>>!!  {t}" for t in texts]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(noisy)], "id long, text string"
    )

    def norm(col):
        return F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "), " +", " "
            )
        )

    out = df.select(
        "id", norm(F.col("text")).alias("once"), norm(norm(F.col("text"))).alias("twice")
    ).collect()
    for r in out:
        assert r.once == r.twice


def test_temperature_mix_quota_invariants(spark, sf_dir):
    """Per-source quota math: kept_docs == min(quota, n_docs),
    kept_tokens <= src_tokens, every source represented (quota >= 1),
    and the temperature effect holds — keep RATE is weakly decreasing
    in source token mass (sampled tokens ~ tokens^0.5)."""
    from crime_spark_ml_spark.plans.registry import all_queries

    rows = all_queries()["dp_temperature_mix"](spark, sf_dir).collect()
    assert len(rows) > 1
    for r in rows:
        assert r.kept_docs == min(r.quota, r.n_docs), r
        assert 1 <= r.quota and 0 < r.kept_tokens <= r.src_tokens, r
    by_mass = sorted(rows, key=lambda r: r.src_tokens)
    fracs = [r.quota / r.n_docs for r in by_mass]
    # quotas derive from floor(f*n)+1 so allow the integer wobble
    for small, big in zip(fracs, fracs[1:]):
        assert big <= small + 0.05, fracs


def test_ivfpq_quality_monotone_in_nprobe(spark):
    """Probing more cells never worsens any query's best ADC distance
    (candidate sets grow monotonically with nprobe)."""
    from test_ivfpq import _planted_corpus

    from crime_spark_ml_spark.ml.ivfpq import build_ivfpq, ivfpq_topk

    corpus = _planted_corpus(spark).cache()
    index = build_ivfpq(corpus, k_cells=8, m=4, k=8, seed=0)
    index.coded.cache()
    queries = corpus.where(F.col("vec_id") < 10)

    def best(nprobe):
        out = ivfpq_topk(index, queries, k=1, nprobe=nprobe).collect()
        return {r.query_id: r.adist for r in out}

    b2, b4, b8 = best(2), best(4), best(8)
    for q in b8:
        assert b8[q] <= b4.get(q, float("inf")) + 1e-9, q
        assert b4.get(q, float("inf")) <= b2.get(q, float("inf")) + 1e-9, q


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 1023), st.integers(0, 1023)),
        min_size=1, max_size=30, unique=True,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_morton_interleave_bijective(spark, pairs):
    """interleave_bits is a bijection on 10-bit pairs: a pure-Python
    de-interleave recovers exactly the inputs, and distinct pairs get
    distinct keys (the property the z-order layout's tiling relies
    on)."""
    from crime_spark_ml_spark.operators.layout import interleave_bits

    df = spark.createDataFrame(pairs, "a long, b long").withColumn(
        "z", interleave_bits(F.col("a"), F.col("b"), 10)
    )
    got = df.collect()

    def deinterleave(z: int) -> tuple[int, int]:
        a = b = 0
        for i in range(10):
            b |= ((z >> (2 * i)) & 1) << i
            a |= ((z >> (2 * i + 1)) & 1) << i
        return a, b

    for r in got:
        assert deinterleave(r.z) == (r.a, r.b)
    assert len({r.z for r in got}) == len(pairs)


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=2, max_size=40,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zorder_uniform_bins_are_monotone(spark, vals):
    """Uniform binning preserves order: sorting by the morton key of
    (v, const) sorts by v's bin — no value ever lands in a lower bin
    than a smaller value (the locality the layout depends on)."""
    from crime_spark_ml_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i long, v double"
    ).withColumn("c", F.lit(0.0))
    key = zorder_key(df, ("v", "c"), bits=8)
    rows = df.withColumn("z", key).orderBy("v").collect()
    zs = [r.z for r in rows]
    assert zs == sorted(zs)


@prop
@given(st.lists(TEXT, min_size=2, max_size=8))
def test_duplicate_spans_match_python_reference(spark, texts):
    """Spans = maximal runs of positions whose 5-gram occurs in >=2
    distinct docs — checked against a direct Python reference."""
    from crime_spark_ml_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicate_spans(df, n=5).collect()
    )
    # python reference
    from collections import defaultdict

    grams = defaultdict(set)
    pos = {}
    for i, t in enumerate(texts):
        ws = t.strip().split()
        pos[i] = []
        for p in range(len(ws) - 4):
            g = " ".join(ws[p : p + 5])
            grams[g].add(i)
            pos[i].append((p + 1, g))
    expected = []
    for i, plist in pos.items():
        dup_pos = [p for p, g in plist if len(grams[g]) > 1]
        run = []
        for p in dup_pos:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    expected.append((i, run[0], run[-1] + 4, run[-1] - run[0] + 5))
                run = [p]
        if run:
            expected.append((i, run[0], run[-1] + 4, run[-1] - run[0] + 5))
    assert got == sorted(expected)


def test_weighted_sample_key_monotone_in_weight(spark):
    """Efraimidis–Spirakis: for a fixed doc the selection key ln(u)/w
    strictly increases with weight (u<1 → ln(u)<0), so up-weighting a
    row can only move it INTO the sample, never out — the invariant
    that makes weight a meaningful quality knob."""
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7 + 1).cast("double").alias("w1"),
        ((F.col("id") % 7 + 1) * 3).cast("double").alias("w2"),
    )
    u = F.expr(
        "conv(substring(md5(cast(doc_id AS string)), 1, 13), 16, 10)"
    ).cast("double") / F.lit(2.0 ** 52)
    rows = df.select(
        (F.log(u) / F.col("w1")).alias("k1"), (F.log(u) / F.col("w2")).alias("k2")
    ).collect()
    assert all(r.k2 > r.k1 for r in rows)


@prop
@given(st.lists(TEXT, min_size=1, max_size=8), st.sampled_from([0.3, 0.5, 0.8]))
def test_prefix_filter_matches_python_all_pairs(spark, texts, threshold):
    """PPJoin prefix filtering is lossless: its output equals a Python
    brute-force Jaccard over all pairs, at every threshold."""
    from crime_spark_ml_spark.operators.linkage import prefix_filter_jaccard_join

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_jaccard_join(
            df, threshold=threshold, scope_col=None
        ).collect()
    }
    want = {}
    sets = [set(t.split(" ")) for t in texts]
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
            if jac >= threshold:
                want[(i, j)] = round(jac, 6)
    assert got == want


@prop
@given(st.lists(TEXT, min_size=1, max_size=6))
def test_cdc_reassembly_on_random_texts(spark, texts):
    """CDC chunks always concatenate back to the exact input."""
    from crime_spark_ml_spark.operators.chunk import cdc_chunks

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = cdc_chunks(df).collect()
    rebuilt: dict[int, list] = {}
    for r in rows:
        rebuilt.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text))
    for i, t in enumerate(texts):
        assert "".join(c for _, c in sorted(rebuilt[i])) == t


@prop
@given(
    st.lists(
        st.floats(min_value=-1000, max_value=1000, allow_nan=False, width=64),
        min_size=1,
        max_size=50,
    )
)
def test_ewma_fold_matches_python(spark, values):
    """The higher-order aggregate() EWMA fold equals the plain-Python
    recursion on arbitrary series — same IEEE doubles, bit-for-bit
    (no rounding in this pin)."""
    df = spark.createDataFrame([(values,)], "ys array<double>")
    got = df.select(
        F.expr(
            "aggregate(slice(ys, 2, size(ys)-1), ys[0], "
            "(acc, x) -> CAST(0.2 AS DOUBLE)*x + CAST(0.8 AS DOUBLE)*acc)"
        ).alias("ewma")
    ).first()["ewma"]
    acc = values[0]
    for x in values[1:]:
        acc = 0.2 * x + 0.8 * acc
    assert got == acc


@prop
@given(
    st.lists(
        st.floats(min_value=-1000, max_value=1000, allow_nan=False, width=64),
        min_size=2,
        max_size=50,
    )
)
def test_holt_fold_matches_python(spark, values):
    """The array-accumulator Holt fold (ev_holt_forecast's expression)
    equals the textbook two-variable recursion in plain Python —
    bit-for-bit, guarding the array-instead-of-struct workaround for
    DuckDB's accumulator-clobber quirk against regressions on the
    Spark side too."""
    df = spark.createDataFrame([(values,)], "ys array<double>")
    got = df.select(
        F.expr(
            "aggregate(slice(ys, 3, size(ys)-2), "
            "array(CAST(element_at(ys, 2) AS DOUBLE), "
            "      CAST(element_at(ys, 2) AS DOUBLE)"
            "      - CAST(element_at(ys, 1) AS DOUBLE)), "
            "(acc, y) -> array("
            "  CAST(0.2 AS DOUBLE)*y "
            "    + CAST(0.8 AS DOUBLE)*(element_at(acc, 1) + element_at(acc, 2)), "
            "  CAST(0.1 AS DOUBLE)*((CAST(0.2 AS DOUBLE)*y "
            "      + CAST(0.8 AS DOUBLE)*(element_at(acc, 1) + element_at(acc, 2)))"
            "      - element_at(acc, 1)) "
            "    + CAST(0.9 AS DOUBLE)*element_at(acc, 2)))"
        ).alias("st")
    ).first()["st"]
    level, trend = values[1], values[1] - values[0]
    for y in values[2:]:
        new_level = 0.2 * y + 0.8 * (level + trend)
        trend = 0.1 * ((0.2 * y + 0.8 * (level + trend)) - level) + 0.9 * trend
        level = new_level
    assert got[0] == level and got[1] == trend


@prop
@given(st.lists(TEXT, min_size=2, max_size=10))
def test_containment_matches_python_reference(spark, texts):
    """containment_pairs equals the brute-force Python computation of
    |A∩B| / min(|A|,|B|) over distinct-token sets (single scope)."""
    from crime_spark_ml_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df).collect()
    }
    sets = {i: set(t.split(" ")) for i, t in enumerate(texts)}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            inter = len(sets[a] & sets[b])
            if inter == 0:
                assert (a, b) not in got
                continue
            expect = round(inter / min(len(sets[a]), len(sets[b])), 6)
            assert got[(a, b)] == pytest.approx(expect, abs=1e-9)


@prop
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(2, 4),
)
def test_kcore_peel_matches_python_reference(spark, raw_edges, k):
    """Distributed peeling agrees with a sequential reference on
    random graphs (any k) — the planted-clique fixture only exercises
    k=3 on one topology."""
    from crime_spark_ml_spark.operators.dedup import kcore_peel

    undirected = {frozenset(e) for e in raw_edges}
    sym = sorted({(u, w) for e in undirected for u, w in (tuple(e), tuple(reversed(tuple(e))))})

    # sequential reference: repeatedly drop nodes with degree < k
    adj: dict[int, set[int]] = {}
    for u, w in sym:
        adj.setdefault(u, set()).add(w)
    while True:
        low = [u for u, ns in adj.items() if len(ns) < k]
        if not low:
            break
        for u in low:
            for w in adj.pop(u):
                adj[w].discard(u)
    expected = {u: len(ns) for u, ns in adj.items()}

    edges = spark.createDataFrame(sym, "u bigint, w bigint")
    core, rounds = kcore_peel(edges, k=k, max_rounds=40)
    got = {
        r.u: r.d
        for r in core.groupBy("u").agg(F.count("*").alias("d")).collect()
    }
    assert got == expected
    assert rounds >= 1


@prop
@given(
    st.lists(
        st.lists(
            st.floats(-5, 5, allow_nan=False, allow_infinity=False),
            min_size=3,
            max_size=3,
        ),
        min_size=3,
        max_size=12,
    )
)
def test_weiszfeld_iterations_shrink_weighted_objective(spark, pts):
    """Each Weiszfeld step never increases the sum-of-distances
    objective (standard monotonicity) — checked against a NumPy
    reference of the same fixed recursion with the same epsilon."""
    import numpy as np

    x = np.array(pts, dtype=float)
    m = x.mean(axis=0)
    obj_prev = float(np.sqrt(((x - m) ** 2).sum(axis=1)).sum())
    for _ in range(3):
        d = np.sqrt(((x - m) ** 2).sum(axis=1)) + 1e-9
        m = (x / d[:, None]).sum(axis=0) / (1.0 / d).sum()
        obj = float(np.sqrt(((x - m) ** 2).sum(axis=1)).sum())
        assert obj <= obj_prev + 1e-6
        obj_prev = obj
