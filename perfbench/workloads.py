"""The workloads' user-visible calls and the checks of their outputs."""

from __future__ import annotations

import time
from pathlib import Path

#: Workload inputs. full_long: ~13M tokens in 4 partitions (one hot), the
#: default fault mix puts ~2.4% of subjects through the content probe, so
#: the broadcast probe tier runs. corpus_prep: ~660 documents.
WORKLOADS = {
    "full_long": {"rows": 20_000, "min_len": 256, "max_len": 1024, "tier": "broadcast"},
    "corpus_prep": {"docs": 600, "sample_ppm": 900_000},
}


def call_full(spark, inp: dict, out: Path) -> dict:
    from np_data_validation_spark.plans.engine import run_validation

    t = time.perf_counter()
    res = run_validation(
        spark,
        str(inp["dir"] / "sequences"),
        str(inp["dir"] / "manifest"),
        str(out),
        content_aware=True,
    )
    return {"wall_s": time.perf_counter() - t, "result": res}


def check_full(out: Path, exp: dict, res=None, tier: str | None = None) -> tuple[list[str], dict]:
    """Compare a run_validation output dir with the planted faults. With
    ``res`` (the RunResult) also check per-partition metrics and which
    partitions ran; with ``tier`` pin the content-probe branch. Returns
    (mismatches, branch record)."""
    import duckdb

    import inputs as I

    con = duckdb.connect()
    try:

        def counts(sql: str) -> dict:
            return {k: v for k, v in con.execute(sql).fetchall()}

        verdicts = counts(
            f"SELECT final_verdict_code, count(*) FROM read_parquet('{out}/verdicts/*/*.parquet') GROUP BY 1"
        )
        status = counts(
            f"SELECT row_status, count(*) FROM read_parquet('{out}/verdicts/*/*.parquet') GROUP BY 1"
        )
        violations = counts(
            f"SELECT violation, count(*) FROM read_parquet('{out}/violations/*/*.parquet') GROUP BY 1"
        )
        audit = counts(
            f"SELECT violation, count(*) FROM read_parquet('{out}/manifest_violations/*.parquet') GROUP BY 1"
        )
        n_miss = None
        if tier is not None:
            n_miss = con.execute(
                f"SELECT count(*) FROM read_parquet('{out}/_work/*/*/pairs_stage1/*.parquet') "
                "WHERE verdict_code = 14"
            ).fetchone()[0]
    finally:
        con.close()
    bad = []
    for name, got, want in (
        ("verdicts", verdicts, exp["verdicts"]),
        ("status", status, exp["status"]),
        ("violations", violations, exp["violations"]),
        ("audit", audit, exp["audit"]),
    ):
        want = {k: v for k, v in want.items() if v}
        if got != want:
            bad.append(f"{name}: got {got}, want {want}")
    branch: dict = {}
    if res is not None:
        for src, want in exp["per_source"].items() if res.metrics else ():
            m = res.metrics.get(src, {})
            got = {k: m[k] for k in ("pass", "fail", "unknown") if m.get(k)}
            want = {k: v for k, v in want.items() if v}
            if got != want:
                bad.append(f"partition {src}: got {got}, want {want}")
        branch["validated"] = sorted(res.validated_partitions)
        branch["skipped"] = sorted(res.skipped_partitions)
        if branch["validated"] != exp["validated"] or branch["skipped"] != exp["skipped"]:
            bad.append(f"partitions validated {branch['validated']}, skipped {branch['skipped']}")
    if tier is not None:
        branch["stage1_miss"] = n_miss
        branch["probe_tier"] = I.probe_tier(n_miss)
        if n_miss != exp["stage1_miss"]:
            bad.append(f"stage-1 misses: got {n_miss}, want {exp['stage1_miss']}")
        if branch["probe_tier"] != tier:
            bad.append(f"probe tier {branch['probe_tier']}, intended {tier}")
    return bad, branch


def call_corpus(spark, inp: dict, out: Path) -> dict:
    from np_data_validation_spark.operators import dedup as DD

    t = time.perf_counter()
    docs = spark.read.parquet(str(inp["dir"] / "documents.parquet"))
    ev = spark.read.parquet(str(inp["dir"] / "eval.parquet"))
    DD.prepare_corpus(
        docs, eval_docs=ev, sample_ppm=WORKLOADS["corpus_prep"]["sample_ppm"]
    ).write.parquet(str(out))
    return {"wall_s": time.perf_counter() - t, "result": None}


def check_corpus(inp: dict, out: Path) -> tuple[list[str], dict]:
    from collections import Counter

    import pyarrow.parquet as pq

    t = pq.read_table(str(out)).to_pydict()
    got = dict(zip(t["doc_id"], t["disposition"]))
    want = inp["expected"]
    wrong = [d for d in want if got.get(d) != want[d]]
    bad = []
    if wrong or len(got) != len(want):
        bad.append(
            f"{len(wrong)} dispositions differ (of {len(want)}; {len(got)} rows), "
            f"e.g. {[(d, got.get(d), want[d]) for d in wrong[:3]]}"
        )
    return bad, {"dispositions": dict(Counter(got.values()))}
