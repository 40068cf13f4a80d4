"""Whole-manifest constraint checks: orphaned entries and consistency.

Both return violation rows in the ``schema.VIOLATIONS`` shape; they are
global (they don't partition by snapshot source), so ``plans.engine.
manifest_audit`` runs them once per validation run. The batch-scoped
checks — uniqueness and the schema invariants — are built once, in
``plans.onepass``, from the identity table of the validation pass.

Reference anchors:
* referential     — "entry in DB whose file no longer exists", probed via
                    the accessible flag, reference data_validation.py:453,
                    :1286
* consistency     — all-same-checksum check within a match group,
                    /root/reference/data_validation.py:1218-1222
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _as_violation(df: DataFrame, name: str, detail_cols: list[str]) -> DataFrame:
    return df.select(
        "doc_id",
        "source",
        F.lit(name).alias("violation"),
        F.to_json(F.struct(*[F.col(c) for c in detail_cols])).alias("detail"),
    )


def referential_violations(snapshot: DataFrame, manifest: DataFrame) -> DataFrame:
    """manifest ∖ snapshot -> MISSING_IN_SNAPSHOT (orphaned manifest entry).

    The other direction — a snapshot row with no manifest counterpart — is
    the verdict MISSING_COUNTERPART, reported per row by the validation
    pass after the content probe had its chance to rescue it.
    """
    return _as_violation(
        manifest.join(snapshot.select("doc_id"), "doc_id", "left_anti"),
        "MISSING_IN_SNAPSHOT",
        ["n_tok", "tok_hash"],
    )


def consistency_violations(manifest: DataFrame) -> DataFrame:
    """doc_ids whose manifest entries disagree on content hash.

    ``count(distinct tok_hash) > 1`` per doc_id — the distributed form of
    the reference's ``all(owc.checksum == last.checksum ...)`` loop.
    Aggregation is partial+final (map-side combine) so no raw-row shuffle.
    """
    bad = (
        manifest.filter(F.col("tok_hash").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.countDistinct("tok_hash").alias("n_hashes"),
            F.min("source").alias("source"),
        )
        .filter(F.col("n_hashes") > 1)
    )
    return _as_violation(bad, "INCONSISTENT_GROUP", ["n_hashes"])
