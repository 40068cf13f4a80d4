"""run_validation's commit path: one state read (none on a fresh out dir),
metrics counted from the written results, the caller's session left as it
was, pool jobs under the caller's job group, and crash-and-resume at every
commit boundary."""

import json
import os
from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

from np_data_validation_spark.plans import checkpoint as CP
from np_data_validation_spark.plans import engine as E

OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def paths(synth_dataset):
    root, _ = synth_dataset
    return os.path.join(root, "sequences"), os.path.join(root, "manifest")


@pytest.fixture(scope="module")
def numeric_sources_dataset(tmp_path_factory):
    """Synth data whose partition values look numeric (``007``, ``010``,
    ``1e3``) beside one that does not, so the snapshot's ``source`` stays a
    string while a read-back of only the numeric partitions would infer
    numbers."""
    import pyarrow as pa

    from np_data_validation_spark import synth

    names = {"src_00": "007", "src_01": "010", "src_02": "1e3", "src_03": "abc"}
    root = str(tmp_path_factory.mktemp("numeric_sources"))
    seq, man, _ = synth.generate(n_rows=1500, seed=11)
    for tbl, name in ((seq, "sequences"), (man, "manifest")):
        i = tbl.schema.get_field_index("source")
        renamed = pa.array([names[v] for v in tbl.column("source").to_pylist()])
        synth.write_partitioned(tbl.set_column(i, "source", renamed), os.path.join(root, name))
    return os.path.join(root, "sequences"), os.path.join(root, "manifest")


def duckdb_metrics(out: str) -> dict[str, dict]:
    """Per-partition metrics recounted by DuckDB from the written files."""
    con = duckdb.connect()
    try:
        status = con.execute(
            f"SELECT source, row_status, count(*) FROM read_parquet('{out}/verdicts/*/*.parquet',"
            " hive_partitioning = false) GROUP BY ALL"
        ).fetchall()
        viol = con.execute(
            f"SELECT source, violation, count(*) FROM read_parquet('{out}/violations/*/*.parquet',"
            " hive_partitioning = false) GROUP BY ALL"
        ).fetchall()
    finally:
        con.close()
    want: dict[str, dict] = {}
    for src, st, n in status:
        want.setdefault(src, {"pass": 0, "fail": 0, "unknown": 0})[st] = n
    for m in want.values():
        m["rows"] = m["pass"] + m["fail"] + m["unknown"]
        m["partition_status"] = "pass" if m["fail"] == 0 else "fail"
    for src, v, n in viol:
        want[src].setdefault("violations", {})[v] = n
    return want


def state_by_partition(spark, out: str) -> dict[str, tuple]:
    return {
        r["partition"]: (r["status"], json.loads(r["metrics"]), json.loads(r["lineage"]))
        for r in CP.read_state(spark, out).collect()
    }


def test_state_read_once_and_never_on_a_fresh_out_dir(
    spark, synth_dataset, tmp_path, monkeypatch
):
    snap_p, man_p = paths(synth_dataset)
    out = str(tmp_path / "out")
    orig = CP.read_state

    def no_read(*_a, **_k):
        raise AssertionError("state read on a fresh out dir")

    monkeypatch.setattr(CP, "read_state", no_read)
    r1 = E.run_validation(spark, snap_p, man_p, out, content_aware=True)
    assert len(r1.validated_partitions) == 4

    calls = []

    def spy(*a, **k):
        calls.append(a)
        return orig(*a, **k)

    monkeypatch.setattr(CP, "read_state", spy)
    r2 = E.run_validation(spark, snap_p, man_p, out, content_aware=True)
    assert len(calls) == 1
    assert r2.validated_partitions == []
    assert sorted(r2.skipped_partitions) == sorted(r1.validated_partitions)


@pytest.mark.parametrize("commit_batch", [None, 1])
def test_metrics_equal_duckdb_counts_of_written_results(
    spark, numeric_sources_dataset, tmp_path, commit_batch
):
    """RunResult.metrics and the state metrics JSON are counts over the
    written verdicts/violations. With commit_batch=1 the first batch's
    read-back sees only ``_part=007``, which type inference would turn
    into 7 (and so lose the partition's metrics)."""
    snap_p, man_p = numeric_sources_dataset
    out = str(tmp_path / "out")
    r = E.run_validation(spark, snap_p, man_p, out, commit_batch=commit_batch)
    want = duckdb_metrics(out)
    assert sorted(want) == ["007", "010", "1e3", "abc"]
    assert sorted(r.validated_partitions) == sorted(want)
    assert r.metrics == want
    state = state_by_partition(spark, out)
    assert {p: m for p, (_, m, _) in state.items()} == want


def test_session_conf_unchanged_by_run_validation(spark, synth_dataset, tmp_path):
    """The engine asks for dynamic partition overwrite per write; the
    caller's session keeps its own mode, and per-partition replacement
    still holds under it (a static overwrite per batch would wipe the
    other batches' partitions)."""
    snap_p, man_p = paths(synth_dataset)
    out = str(tmp_path / "out")
    prior = spark.conf.get(OVERWRITE_MODE)
    spark.conf.set(OVERWRITE_MODE, "static")
    try:
        r1 = E.run_validation(spark, snap_p, man_p, out, commit_batch=2)
        assert spark.conf.get(OVERWRITE_MODE) == "static"
        r2 = E.run_validation(spark, snap_p, man_p, out, resume=False, commit_batch=2)
        assert spark.conf.get(OVERWRITE_MODE) == "static"
    finally:
        spark.conf.set(OVERWRITE_MODE, prior)
    assert r1.metrics == r2.metrics == duckdb_metrics(out)


def test_session_conf_unchanged_by_stream_batch(spark, seq_man, tmp_path):
    from np_data_validation_spark.streaming import incremental as INC

    seq, man, _ = seq_man
    landing, out = str(tmp_path / "landing"), str(tmp_path / "out")
    seq.limit(200).write.mode("overwrite").parquet(landing)
    prior = spark.conf.get(OVERWRITE_MODE)
    spark.conf.set(OVERWRITE_MODE, "static")
    try:
        q = INC.validate_stream(spark, landing, man, out, available_now=True)
        q.awaitTermination(120)
        assert spark.conf.get(OVERWRITE_MODE) == "static"
    finally:
        spark.conf.set(OVERWRITE_MODE, prior)
    verdicts = spark.read.parquet(os.path.join(out, "verdicts"))
    assert verdicts.count() == seq.limit(200).select("doc_id", "source").distinct().count()


def test_pool_jobs_carry_the_callers_job_group(spark, synth_dataset, tmp_path):
    """Jobs submitted from the engine's worker threads run with the
    caller's local properties (here its job group), not with none."""
    snap_p, man_p = paths(synth_dataset)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("npdv-caller-group", "caller-set job group")
    try:
        E.run_validation(spark, snap_p, man_p, str(tmp_path / "out"), content_aware=True)
    finally:
        sc._jsc.clearJobGroup()
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert tracker.getJobIdsForGroup("npdv-caller-group")


# --- crash and resume ---------------------------------------------------------

BOUNDARIES = [
    "after_verdicts_write",
    "after_violations_clear",
    "after_violations_write",
    "after_state_append",
    "inside_audit_prune",
    "inside_manifest_audit_write",
]
RUN_KW = {"commit_batch": 2, "content_aware": True, "keep_audit": 8}


class Crash(RuntimeError):
    pass


def outputs(spark, out: str) -> dict:
    """Everything a run commits, order-insensitive (multisets of rows)."""
    con = duckdb.connect()
    try:

        def rows(glob: str) -> Counter:
            return Counter(
                con.execute(
                    f"SELECT * FROM read_parquet('{out}/{glob}', hive_partitioning = false)"
                ).fetchall()
            )

        got = {
            "verdicts": rows("verdicts/*/*.parquet"),
            "violations": rows("violations/*/*.parquet"),
            "manifest_violations": rows("manifest_violations/*.parquet"),
        }
    finally:
        con.close()
    got["state"] = state_by_partition(spark, out)
    return got


@pytest.fixture(scope="module")
def uninterrupted(spark, synth_dataset, tmp_path_factory):
    snap_p, man_p = paths(synth_dataset)
    out = str(tmp_path_factory.mktemp("uninterrupted") / "out")
    E.run_validation(spark, snap_p, man_p, out, **RUN_KW)
    return outputs(spark, out)


def inject(monkeypatch, boundary: str) -> None:
    """Make the first pass through ``boundary`` raise."""

    def after(obj, name, hit=lambda *a: True):
        orig = getattr(obj, name)

        def wrapped(*a, **k):
            res = orig(*a, **k)
            if hit(*a):
                raise Crash(boundary)
            return res

        monkeypatch.setattr(obj, name, wrapped)

    if boundary == "after_verdicts_write":
        after(E, "_write_parts", lambda _df, path: path.endswith("verdicts"))
    elif boundary == "after_violations_write":
        after(E, "_write_parts", lambda _df, path: path.endswith("violations"))
    elif boundary == "after_violations_clear":
        after(E, "_clear_partitions")
    elif boundary == "after_state_append":
        after(CP, "write_state_rows")
    elif boundary == "inside_audit_prune":
        after(E, "_prune_audit_dirs")
    else:
        orig = E.manifest_audit
        # fails the audit's write job itself, mid-write, in the pool thread
        monkeypatch.setattr(
            E,
            "manifest_audit",
            lambda s, m: orig(s, m).filter(F.raise_error(F.lit("crash")).isNull()),
        )


@pytest.mark.parametrize("boundary", BOUNDARIES)
def test_crash_then_resume_equals_uninterrupted_run(
    spark, synth_dataset, tmp_path, monkeypatch, uninterrupted, boundary
):
    snap_p, man_p = paths(synth_dataset)
    out = str(tmp_path / "out")
    inject(monkeypatch, boundary)
    with pytest.raises(Exception) as ei:
        E.run_validation(spark, snap_p, man_p, out, **RUN_KW)
    if boundary != "inside_manifest_audit_write":
        assert isinstance(ei.value, Crash)
    monkeypatch.undo()
    r = E.run_validation(spark, snap_p, man_p, out, **RUN_KW)
    # at least the crashed batch re-ran, and no partition ran twice
    assert r.validated_partitions
    assert len(set(r.validated_partitions)) == len(r.validated_partitions)
    assert outputs(spark, out) == uninterrupted
