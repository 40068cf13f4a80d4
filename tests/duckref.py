"""DuckDB reference for the one-pass validation.

Loads a (snapshot, manifest) pair into DuckDB — the snapshot's ``tok_hash``
computed here with the numpy kernel over the Arrow list column, not with
the Spark UDF — runs ``queries.onepass_sql`` and compares its outputs with
a ``validate_onepass`` result: rolled verdicts and violations row for row,
stats per source. Violation ``detail`` is compared as parsed JSON with
null-valued keys dropped, because Spark's ``to_json`` omits nulls.
"""

from __future__ import annotations

import json

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from np_data_validation_spark.functions.hashing import xxh64_int32_batch
from np_data_validation_spark.plans.onepass import ROLLED_PUBLIC_COLS
from np_data_validation_spark.queries import onepass_sql

VIOLATION_COLS = ["doc_id", "source", "violation", "detail"]
STATS_EXACT_COLS = [
    "source", "n_rows", "n_tok_min", "n_tok_max", "n_tok_sum",
    "n_tok_null_rate", "tokens_null_rate", "is_global",
]


def _hashed_snapshot(snapshot) -> pa.Table:
    tbl = snapshot.select("doc_id", "source", "n_tok", "tokens").toArrow()
    tokens = tbl.column("tokens").combine_chunks()
    offsets = tokens.offsets.to_numpy()
    base, end = int(offsets[0]), int(offsets[-1])
    flat = tokens.values.slice(base, end - base).to_numpy(zero_copy_only=False)
    hashes = xxh64_int32_batch(flat, offsets - base).view(np.int64)
    null = ~np.asarray(tokens.is_valid())
    return pa.table(
        {
            "doc_id": tbl.column("doc_id"),
            "source": tbl.column("source"),
            "n_tok": tbl.column("n_tok"),
            "tok_hash": pa.array(hashes, type=pa.int64(), mask=null),
            "n_tok_actual": pc.list_value_length(tokens).cast(pa.int32()),
        }
    )


def reference(snapshot, manifest) -> dict[str, list[dict]]:
    """``queries.onepass_sql`` outputs over the given Spark DataFrames, as
    lists of row dicts."""
    con = duckdb.connect()
    con.register("snapshot", _hashed_snapshot(snapshot))
    con.register(
        "manifest", manifest.select("doc_id", "source", "n_tok", "tok_hash").toArrow()
    )
    out = {}
    for name, sql in onepass_sql().items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = [dict(zip(cols, r)) for r in cur.fetchall()]
    con.close()
    return out


def _detail(text: str) -> str:
    return json.dumps(
        {k: v for k, v in json.loads(text).items() if v is not None}, sort_keys=True
    )


def sorted_rows(rows, cols) -> list[tuple]:
    """Row dicts as tuples of ``cols``, sorted with NULLs last."""
    return sorted(
        (tuple(r[c] for c in cols) for r in rows),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _violation_rows(rows) -> list[tuple]:
    return sorted_rows(({**r, "detail": _detail(r["detail"])} for r in rows), VIOLATION_COLS)


def _collect(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def assert_rolled_match(res, ref) -> None:
    assert sorted_rows(_collect(res.rolled), ROLLED_PUBLIC_COLS) == sorted_rows(
        ref["rolled"], ROLLED_PUBLIC_COLS
    )


def assert_violations_match(res, ref) -> None:
    assert _violation_rows(_collect(res.violations)) == _violation_rows(ref["violations"])


def assert_stats_match(res, ref) -> None:
    got = _collect(res.stats)
    assert sorted_rows(got, STATS_EXACT_COLS) == sorted_rows(ref["stats"], STATS_EXACT_COLS)
    want = {(r["source"], r["is_global"]): r for r in ref["stats"]}
    for r in got:
        w = want[(r["source"], r["is_global"])]
        if w["n_tok_avg"] is None:
            assert r["n_tok_avg"] is None
        else:
            assert r["n_tok_avg"] == pytest.approx(w["n_tok_avg"], rel=1e-12)
        # HLL estimate against the exact distinct count
        exact = w["doc_id_approx_distinct"]
        assert abs(r["doc_id_approx_distinct"] - exact) <= max(2, 0.05 * exact)


def assert_matches_reference(res, snapshot, manifest) -> dict[str, list[dict]]:
    """Assert a ``validate_onepass`` result equals the DuckDB reference on
    rolled verdicts, violations and stats. Returns the reference."""
    ref = reference(snapshot, manifest)
    assert_rolled_match(res, ref)
    assert_violations_match(res, ref)
    assert_stats_match(res, ref)
    return ref
