"""Driver attestation rotation (__spark_entry__._rotated /
_attestation_rounds): never-attested queries lead, then staleness,
with heavy trainers deferred inside each cohort — the ordering that
keeps the driver's ~50-query correctness window re-checking the
least-recently-attested plans."""

from __future__ import annotations

import json

import __spark_entry__ as entry


def test_attestation_rounds_reads_latest_green(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "a": {"hash_match": True},
                "b": {"hash_match": True},
                "c": {"hash_match": False, "err": "boom"},  # red: no attestation
                "d": {"hash_match": None, "err": "no_oracle"},  # rows-only counts
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"b": {"hash_match": True}})
    )
    # wrong-shaped but valid JSON must be skipped, not crash queries()
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(["not", "a", "dict"]))
    last = entry._attestation_rounds(here=str(tmp_path))
    assert last == {"a": 1, "b": 2, "d": 1}


def test_rotated_orders_by_staleness_then_defers_heavy():
    d = {k: k for k in ["q_new", "ml_new", "q_r1", "ml_r1", "q_r2", "dp_dedup_pipeline"]}
    last = {"q_r1": 1, "ml_r1": 1, "q_r2": 2, "dp_dedup_pipeline": 1}
    got = list(entry._rotated(d, last=last))
    # cohort 0 (never attested) cheap-before-heavy, then r1 with the
    # heavy ml_r1/dp_dedup_pipeline after the cheap q_r1, then r2
    assert got == ["q_new", "ml_new", "q_r1", "ml_r1", "dp_dedup_pipeline", "q_r2"]


def test_rotated_ties_break_by_registry_order():
    d = {k: k for k in ["z_first", "a_second", "m_third"]}
    got = list(entry._rotated(d, last={}))
    assert got == ["z_first", "a_second", "m_third"]


def test_rotated_round_robins_families_within_cohort():
    """One large module cannot monopolize the driver's ~50-query
    window: within a cohort, families interleave round-robin (r05: 41
    straight ev_* queries led the window and pushed the flagged
    dp_embedding_near_dups re-attest to position 43)."""
    d = {k: k for k in ["ev_a", "ev_b", "ev_c", "dp_a", "dp_b", "j_a"]}
    got = list(entry._rotated(d, last={}))
    assert got == ["ev_a", "dp_a", "j_a", "ev_b", "dp_b", "ev_c"]


def test_rotated_round_robin_respects_cohort_and_heavy_blocks():
    """Round-robin happens inside each (cohort, heavy) block — it never
    pulls a stale or heavy query ahead of a fresher/cheaper cohort."""
    d = {k: k for k in ["ev_new", "dp_new", "ml_new", "ev_r1", "dp_r1"]}
    last = {"ev_r1": 1, "dp_r1": 1}
    got = list(entry._rotated(d, last=last))
    assert got == ["ev_new", "dp_new", "ml_new", "ev_r1", "dp_r1"]


def test_rotated_preserves_membership():
    from crime_spark_ml_spark.plans.registry import all_oracles, all_queries

    q, o = entry.queries(), entry.oracle_sql()
    assert set(q) == set(all_queries()) and set(o) == set(all_oracles())
    # oracle ordering is a sub-sequence of the query ordering
    qpos = {k: i for i, k in enumerate(q)}
    opos = [qpos[k] for k in o]
    assert opos == sorted(opos)
