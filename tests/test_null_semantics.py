"""NULL semantics of the validation rules, property-tested against DuckDB.

Hypothesis draws small snapshot/manifest tables with NULLs in doc_id,
n_tok, tokens (hence tok_hash) and source, over a three-value doc_id pool
(heavy collisions) and a tiny token vocabulary (content collisions), and
asserts that ``validate_onepass`` rolled verdicts, violations and stats
equal the DuckDB formulation (``queries.onepass_sql``). The snapshot is
never empty: the engine validates non-empty batches only.

The NULL rule of each constraint (uniqueness follows the certain-key
reading of "Entity Integrity, Referential Integrity, and Query
Optimization with Embedded Uniqueness Constraints", ICDE 2019: a NULL key
value is not exempt from uniqueness):

* stage-1 join: a NULL doc_id never equals a manifest doc_id, so the row
  is MISSING_COUNTERPART unless the content probe rescues it;
* verdict CASE: a comparison with a NULL operand is unknown and its
  branch is not taken; a one-sided NULL hash is SELF_NO_CHECKSUM /
  OTHER_NO_CHECKSUM, everything else falls through to UNKNOWN;
* content probe: a NULL tok_hash never matches, so the row stays
  MISSING_COUNTERPART; manifest rows with a NULL tok_hash are never
  probe candidates;
* manifest dedup: identical manifest rows are one row, NULLs included;
* rollup: a NULL doc_id or source is its own group;
* DUPLICATE_DOC_ID: NULL doc_id / source values are equal for grouping
  (two NULL-doc_id rows of one source are duplicates); ranks order by
  tok_hash then n_tok, NULLs last;
* N_TOK_MISMATCH: only when both n_tok and the tokens are non-NULL;
* NULL_N_TOK / NULL_DOC_ID: one row per snapshot row with that NULL;
* stats: NULL n_tok is left out of min/max/avg/sum and counted in
  n_tok_null_rate, NULL tokens in tokens_null_rate; a NULL source gets
  its own per-source row, told apart from the global row by is_global.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from duckref import assert_matches_reference

from np_data_validation_spark.functions.hashing import xxh64_int32_scalar
from np_data_validation_spark.plans.onepass import validate_onepass


def _hash(tokens):
    if tokens is None:
        return None
    return int(np.uint64(xxh64_int32_scalar(tokens)).astype(np.int64))


def test_null_semantics_match_duckdb(spark, tmp_path):
    pytest.importorskip("hypothesis")
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    doc = st.sampled_from(["a", "b", "c", None])
    src = st.sampled_from(["s1", "s2", None])
    tokens = st.none() | st.lists(st.integers(0, 2), max_size=3)
    n_tok = st.none() | st.integers(0, 3)
    snap_rows = st.lists(st.tuples(doc, tokens, n_tok, src), min_size=1, max_size=12)
    man_rows = st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "a_r", None]),
            n_tok,
            tokens,
            st.sampled_from(["s1", "s2", "s3", None]),
        ),
        max_size=12,
    )
    runs = itertools.count()

    @given(snap_rows, man_rows, st.booleans())
    @settings(
        max_examples=15,
        deadline=None,
        database=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(snap, man, copy_snapshot):
        if copy_snapshot:
            # manifest rows equal to snapshot rows: SELF / copy branches
            man = man + [(d, n, t, s) for d, t, n, s in snap]
        snap_df = spark.createDataFrame(
            snap, "doc_id string, tokens array<int>, n_tok int, source string"
        )
        man_df = spark.createDataFrame(
            [(d, n, _hash(t), s) for d, n, t, s in man],
            "doc_id string, n_tok int, tok_hash long, source string",
        )
        res = validate_onepass(spark, snap_df, man_df, str(tmp_path / f"r{next(runs)}"))
        assert_matches_reference(res, snap_df, man_df)

    check()
