"""Constraint tests against the labeled synth dataset: uniqueness and schema
through the one-pass violations, orphans and consistency through the
manifest audit."""

import pytest
from pyspark.sql import functions as F

from np_data_validation_spark.operators import verdicts as V
from np_data_validation_spark.plans import engine, onepass


@pytest.fixture(scope="module")
def violations(spark, seq_man, tmp_path_factory):
    seq, man, _ = seq_man
    work = str(tmp_path_factory.mktemp("constraints"))
    return onepass.validate_onepass(spark, seq, man, work).violations


@pytest.fixture(scope="module")
def audit(seq_man):
    seq, man, _ = seq_man
    return engine.manifest_audit(seq, man).toPandas()


def _of(violations, name):
    return violations.filter(F.col("violation") == name).toPandas()


def test_uniqueness(seq_man, violations):
    _, _, labels = seq_man
    vio = _of(violations, "DUPLICATE_DOC_ID")
    dup_ids = set(
        labels.loc[labels["case"].isin(["duplicate", "duplicate_mixed"]), "doc_id"]
    )
    assert set(vio["doc_id"]) == dup_ids
    # exactly one extra copy each -> one violation row each
    assert len(vio) == len(dup_ids)


def test_referential(spark, seq_man, audit):
    seq, man, labels = seq_man
    # strict doc_id integrity: renamed-copy and collision subjects also have
    # no same-id counterpart — stage 1 misses them and the content probe
    # is what rescues them, not this check.
    s1 = onepass.pairs_stage1(seq, man)
    missed = {
        r["doc_id"]
        for r in s1.filter(F.col("verdict_code") == V.MISSING_COUNTERPART)
        .select("doc_id")
        .collect()
    }
    want_missing = set(
        labels.loc[
            labels["case"].isin(
                ["missing", "valid_copy_renamed", "collision", "renamed_null_ntok"]
            ),
            "doc_id",
        ]
    )
    assert missed == want_missing
    orphaned = audit[audit["violation"] == "MISSING_IN_SNAPSHOT"]
    # renamed + collision manifest entries have doc_ids absent from snapshot
    want_orphans = (
        {d + "_r" for d in labels.loc[labels["case"] == "valid_copy_renamed", "doc_id"]}
        | {d + "_c" for d in labels.loc[labels["case"] == "collision", "doc_id"]}
        | {d + "_n" for d in labels.loc[labels["case"] == "renamed_null_ntok", "doc_id"]}
    )
    assert set(orphaned["doc_id"]) == want_orphans
    assert set(audit["violation"]) == {"MISSING_IN_SNAPSHOT", "INCONSISTENT_GROUP"}


def test_consistency(seq_man, audit):
    _, _, labels = seq_man
    vio = audit[audit["violation"] == "INCONSISTENT_GROUP"]
    want = set(labels.loc[labels["case"] == "inconsistent", "doc_id"])
    assert set(vio["doc_id"]) == want


def test_schema_invariants(seq_man, violations):
    _, _, labels = seq_man
    mism = _of(violations, "N_TOK_MISMATCH")
    want = set(labels.loc[labels["case"] == "n_tok_mismatch", "doc_id"])
    assert set(mism["doc_id"]) == want


def test_all_violations_union(seq_man, violations):
    seq, man, _ = seq_man
    vio = violations.unionByName(engine.manifest_audit(seq, man))
    assert vio.columns == ["doc_id", "source", "violation", "detail"]
    assert vio.count() > 0
