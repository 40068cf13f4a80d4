"""Equivalence of the one-pass plan (plans.onepass) with its DuckDB
formulation (queries.onepass_sql): rolled verdicts, violations
(verdict-derived + uniqueness + schema) and per-partition stats must match
row for row on the fault-injected synthetic dataset (every verdict class,
duplicates, n_tok mismatches, null payloads present)."""

from __future__ import annotations

import pytest
from duckref import (
    assert_rolled_match,
    assert_stats_match,
    assert_violations_match,
    reference,
    sorted_rows,
)
from pyspark.sql import functions as F

from np_data_validation_spark.plans import onepass


@pytest.fixture(scope="module")
def frames(seq_man):
    snapshot, manifest, _labels = seq_man
    return snapshot, manifest


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("onepass"))


@pytest.fixture(scope="module")
def onepass_result(spark, frames, work):
    snapshot, manifest = frames
    return onepass.validate_onepass(spark, snapshot, manifest, work)


@pytest.fixture(scope="module")
def duck(frames):
    return reference(*frames)


def _sorted_rows(df, cols):
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_rolled_matches_validate_batch(onepass_result, duck):
    """Rolled verdicts equal the DuckDB formulation's, row for row."""
    assert onepass_result.rolled.count() == 4000
    assert_rolled_match(onepass_result, duck)


def test_violations_match_validate_batch(onepass_result, duck):
    """Violations equal the DuckDB formulation's, row for row."""
    assert duck["violations"]
    assert_violations_match(onepass_result, duck)


def test_pairs_match_duckdb(spark, onepass_result, duck, work):
    """The merged pair table (stage-1 hits + probe outcomes, each identity
    row standing for s_mult raw rows) equals the DuckDB formulation's raw
    pair multiset — per-row probe semantics on mixed-content duplicates
    and null identity columns included (both present in the fixture)."""
    cols = ["doc_id", "source", "n_tok", "tok_hash",
            "m_source", "m_n_tok", "m_tok_hash", "verdict_code"]
    merged = onepass.merged_pairs(
        spark.read.parquet(f"{work}/pairs_stage1"),
        spark.read.parquet(f"{work}/pairs_probe"),
    )
    got = [r.asDict() for r in merged.collect() for _ in range(r["s_mult"])]
    assert sorted_rows(got, cols) == sorted_rows(duck["pairs"], cols)


def test_violations_cover_all_classes(onepass_result):
    classes = {
        r["violation"]
        for r in onepass_result.violations.select("violation").distinct().collect()
    }
    assert {
        "SIZE_MISMATCH",
        "STALE_CHECKSUM",
        "CHECKSUM_MISMATCH",
        "MISSING_COUNTERPART",
        "DUPLICATE_DOC_ID",
        "N_TOK_MISMATCH",
        "NULL_N_TOK",
    } <= classes


def test_stats_match_partition_stats(onepass_result, duck):
    """Per-source and global stats equal the DuckDB formulation's."""
    assert_stats_match(onepass_result, duck)


def test_mixed_duplicate_ranks(seq_man, onepass_result):
    """Regression: a (doc_id, source) group of two DIFFERENT identities
    (s_mult=1 each) must yield exactly one DUPLICATE_DOC_ID row at rank 2 —
    the first-sorted identity's empty rank range must NOT explode (Spark's
    sequence(2,1) counts down instead of yielding [])."""
    import json

    _, _, labels = seq_man
    dm_ids = set(labels.loc[labels["case"] == "duplicate_mixed", "doc_id"])
    assert dm_ids, "fixture must contain mixed-content duplicates"
    rows = (
        onepass_result.violations.filter(F.col("violation") == "DUPLICATE_DOC_ID")
        .collect()
    )
    by_doc: dict[str, list[int]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(json.loads(r["detail"])["dup_rank"])
    for d in dm_ids:
        assert by_doc.get(d) == [2], f"{d}: got ranks {by_doc.get(d)}"


def test_probe_found_null_ntok_not_missing(seq_man, onepass_result):
    """Regression: a stage-1 miss with a null identity column (n_tok) that
    the content probe finds must NOT also surface as MISSING_COUNTERPART
    (null-unsafe identity anti-join double-reported it)."""
    _, _, labels = seq_man
    nuln_ids = set(labels.loc[labels["case"] == "renamed_null_ntok", "doc_id"])
    assert nuln_ids, "fixture must contain renamed_null_ntok rows"
    missing_docs = {
        r["doc_id"]
        for r in onepass_result.violations.filter(
            F.col("violation") == "MISSING_COUNTERPART"
        ).collect()
    }
    assert not (nuln_ids & missing_docs)
    status = {
        r["doc_id"]: r["row_status"]
        for r in onepass_result.rolled.filter(
            F.col("doc_id").isin(list(nuln_ids))
        ).collect()
    }
    assert set(status.values()) == {"unknown"}, status


def test_onepass_plan_shape(spark, frames):
    """The stage-1 plan must contain exactly two Exchanges (one per input
    side) — the identity pre-agg and the join reuse the doc_id
    partitioning — and no sort (shuffled-hash join, not sort-merge)."""
    snapshot, manifest = frames
    plan = onepass.pairs_stage1(snapshot, manifest)._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 2, f"expected 2 exchanges, got {n_exchanges}:\n{plan}"
    assert "SortMergeJoin" not in plan, plan


def test_probe_tiers_agree(spark, frames, tmp_path):
    """r9: the three probe tiers — broadcast missed rows, keyed semi
    pre-filter (missed rows over budget but key set under it), and full
    shuffle — must return identical probed pair rows. The tier is picked
    from ``n_miss``, which this test forces; the fixture's true miss set
    is small, so forcing a bigger n_miss only changes the PLAN, never the
    data. Also pins that the keyed tier's pre-filter is a broadcast
    left-semi on the raw manifest (no manifest-wide exchange ahead of
    it)."""
    from np_data_validation_spark.operators import verdicts as V

    snapshot, manifest = frames
    s1_path = str(tmp_path / "s1_tiers")
    onepass.pairs_stage1(snapshot, manifest).write.parquet(s1_path)
    s1 = spark.read.parquet(s1_path)

    cols = onepass.PAIR_COLS
    outs = {}
    for tier, forced in (
        ("broadcast", None),  # true n_miss, under PROBE_BROADCAST_MAX
        ("keyed", V.PROBE_BROADCAST_MAX + 1),
        ("shuffle", V.PROBE_KEYS_BROADCAST_MAX + 1),
    ):
        probed, _, _ = onepass.probe_pairs_from(
            spark, s1, manifest, n_miss=forced, manifest_hot=False
        )
        outs[tier] = _sorted_rows(probed, cols)
    assert outs["broadcast"] == outs["keyed"] == outs["shuffle"]
    assert len(outs["broadcast"]) > 0

    probed_keyed, _, _ = onepass.probe_pairs_from(
        spark, s1, manifest, n_miss=V.PROBE_BROADCAST_MAX + 1, manifest_hot=False
    )
    plan = probed_keyed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
