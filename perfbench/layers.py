"""Traced run: each layer's public functions called one at a time from
here, one span per call.

Validation (full_long), in order:

1. ``cold`` then ``call``: run_validation taken apart into its layer calls
   (checkpoint gate, onepass stage 1, probe, identities, skew detection,
   rollup, commit writes, state commit, manifest audit), first in the
   fresh session (where a CLI user's cold call goes; it also warms the
   session up, as the untraced run's warm-up call does), then again on a
   fresh output dir: the traced twin of the timed call, whose spans' self
   times and stage metrics are reported.
2. The stage-1 ladder: the stage-1 plan cut into a ``noop`` sink after
   scan, hash, exchange and join+CASE, then written; each marginal is one
   layer's cost. ``stage1.pairs`` is the real step (observed write) the
   marginals must add up to.
3. The derive steps one at a time over the ladder's pair table.
4. Composed calls on the same input: validate_onepass(derive_counts=True)
   and run_validation (engine overhead, overlap, branch pins, tracing
   overhead against ``call``).
5. ``resume``: one partition's payload silently changed, then the resume
   call taken apart like ``cli`` (checkpoint re-hash of done partitions,
   re-validation of the changed one).

Corpus preparation (corpus_prep): ``cold`` and then ``call`` take
prepare_corpus apart into funnel, contamination, dedup and the final
write, each stage materialized at its span's end; a composed call gives
the tracing overhead. No onepass span runs.
"""

from __future__ import annotations

import os
import time
import traceback
import uuid
from pathlib import Path
from types import SimpleNamespace

import host
import inputs as I
from spans import MB, Tracer

#: Spans of the traced call whose self time and stage metrics are reported.
CALL_SPANS = [
    "checkpoint.fingerprint",
    "checkpoint.gate",
    "onepass.stage1",
    "onepass.probe",
    "onepass.identities",
    "skew.detect",
    "onepass.rollup",
    "engine.verdicts",
    "onepass.violations",
    "checkpoint.commit",
    "engine.audit",
    "text.funnel",
    "dedup.contamination",
    "dedup.dedup_corpus",
    "corpus.write",
]
SPAN_FIELDS = {"self_s": "s", "exec_s": "s", "jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB"}

NAMED = {
    "session.start_s": "s",
    "host.canary_gbps": "GB/s",
    "host.steal_ms": "ms",
    "hashing.kernel_gbps": "GB/s",
    "stage1.scan_s": "s",
    "stage1.hash_s": "s",
    "stage1.exchange_s": "s",
    "stage1.join_case_s": "s",
    "stage1.write_s": "s",
    "stage1.pairs_s": "s",
    "stage1.ladder_closure": "ratio",
    "stage1.written_mb": "MB",
    "stage1.shuffle_mb": "MB",
    "onepass.probe_s": "s",
    "onepass.probe_miss_rows": "count",
    "onepass.identities_s": "s",
    "onepass.rollup_s": "s",
    "onepass.violations_s": "s",
    "onepass.stats_s": "s",
    "onepass.validate_s": "s",
    "onepass.overlap_s": "s",
    "skew.detect_s": "s",
    "checkpoint.fingerprint_s": "s",
    "checkpoint.rehash_s": "s",
    "checkpoint.rehash_rows": "count",
    "checkpoint.useful_frac": "ratio",
    "checkpoint.resume_s": "s",
    "engine.run_s": "s",
    "engine.overhead_s": "s",
    "engine.audit_s": "s",
    "engine.written_mb": "MB",
    "text.funnel_s": "s",
    "text.shingle_hash_s": "s",
    "dedup.contamination_s": "s",
    "dedup.dedup_corpus_s": "s",
    "corpus.write_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}


def metric_units() -> dict[str, str]:
    units = dict(NAMED)
    for span in CALL_SPANS:
        for field, unit in SPAN_FIELDS.items():
            units[f"call.{span}.{field}"] = unit
    return units


def _write_read(spark, df, path: str):
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def _part_write(df, path: str) -> None:
    from pyspark.sql import functions as F

    (
        df.withColumn("_part", F.col("source"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_part")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# validation
# ---------------------------------------------------------------------------


def validation_calls(spark, tr: Tracer, seq: str, man: str, out: str, p: str) -> dict:
    """plans.engine.run_validation(content_aware=True, resume=True), one
    layer call per span, spans named ``p + layer``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from np_data_validation_spark.operators import skew as SK
    from np_data_validation_spark.operators import verdicts as V
    from np_data_validation_spark.plans import checkpoint as CP
    from np_data_validation_spark.plans import engine as E
    from np_data_validation_spark.plans import onepass as OP

    with tr.span(p + "checkpoint.fingerprint"):
        snapshot = spark.read.parquet(seq)
        manifest = spark.read.parquet(man)
        fps = CP.input_fingerprints(snapshot)
    with tr.span(p + "checkpoint.gate"):
        cand = [
            q
            for q, lin in CP.recorded_lineage(spark, out).items()
            if q in fps
            and lin.get("code_version") == E.CODE_VERSION
            and str(lin.get("input_fingerprint", "")).count(":") == 3
            and str(lin["input_fingerprint"]).rsplit(":", 1)[0] == fps[q]
        ]
        gate = CP.content_fingerprints(snapshot, cand) if cand else {}
        done = CP.done_partitions(spark, out, gate, code_version=E.CODE_VERSION)
    pending = [q for q in sorted(fps) if q not in done]
    run_id = uuid.uuid4().hex
    wd = os.path.join(out, "_work", f"run={run_id}", "batch=0")
    snap = snapshot.filter(F.col("source").isin(pending))
    obs = Observation("stage1")
    miss = F.sum(F.when(F.col("verdict_code") == V.MISSING_COUNTERPART, 1).otherwise(0))
    with tr.span(p + "onepass.stage1"):
        s1 = _write_read(
            spark,
            OP.pairs_stage1(snap, manifest).observe(obs, miss.alias("n")),
            f"{wd}/pairs_stage1",
        )
        n_miss = int(obs.get["n"] or 0)
    with tr.span(p + "onepass.probe"):
        probed, n_miss, salted = OP.probe_pairs_from(
            spark,
            s1,
            manifest,
            n_miss=n_miss,
            manifest_hot=lambda: SK.detect_hot_keys(manifest.select("tok_hash"), ("tok_hash",)),
        )
        probe = _write_read(spark, probed, f"{wd}/pairs_probe")
    with tr.span(p + "onepass.identities"):
        ids = _write_read(spark, OP.identity_rows(s1), f"{wd}/identities")
    with tr.span(p + "skew.detect"):
        key = ("doc_id", "source")
        hot = SK.detect_hot_keys(s1, key) or SK.detect_hot_keys(probe, key)
    merged = OP.merged_pairs(s1, probe)
    salt = SK.DEFAULT_SALT_BUCKETS if hot else None
    with tr.span(p + "onepass.rollup"):
        rolled = _write_read(
            spark, OP.rollup_pairs(merged, salt_buckets=salt), f"{wd}/rolled"
        ).select(*OP.ROLLED_PUBLIC_COLS)
    with tr.span(p + "engine.verdicts"):
        _part_write(rolled, f"{out}/verdicts")
    with tr.span(p + "onepass.violations"):
        _part_write(OP.all_violations(merged, ids), f"{out}/violations")
    with tr.span(p + "checkpoint.commit"):
        content = CP.fingerprints_from_identities(ids)
        CP.write_state_rows(
            spark,
            out,
            [
                {
                    "partition": q,
                    "status": "done",
                    "lineage": {
                        "input_fingerprint": content.get(q, fps[q]),
                        "code_version": E.CODE_VERSION,
                        "snapshot_path": seq,
                        "manifest_path": man,
                    },
                }
                for q in pending
            ],
            run_id=run_id,
        )
    with tr.span(p + "engine.audit"):
        E.manifest_audit(snapshot, manifest).write.mode("overwrite").parquet(
            f"{out}/manifest_violations"
        )
    rows = {q: int(fp.split(":", 1)[0]) for q, fp in fps.items()}
    return {
        "result": SimpleNamespace(
            metrics={}, validated_partitions=pending, skipped_partitions=sorted(done)
        ),
        "n_miss": n_miss,
        "probe_salted": salted,
        "salt_buckets_used": salt,
        "rehash_rows": sum(rows[q] for q in cand),
        "validated_rows": sum(rows[q] for q in pending),
    }


def _best(tr: Tracer, name: str, fn, reps: int = 2) -> float:
    """Run ``fn`` ``reps`` times, each in its own span; the minimum wall
    (the first run of a plan shape still pays some JIT warm-up)."""
    for i in range(reps):
        with tr.span(f"{name}#{i}"):
            fn()
    return min(tr.wall(f"{name}#{i}") for i in range(reps))


def ladder(spark, tr: Tracer, seq: str, man: str, work: Path, m: dict) -> tuple:
    """Stage-1 ladder (warm). Returns the written pair table and the manifest."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from np_data_validation_spark.functions.hashing import with_tok_hash
    from np_data_validation_spark.operators import verdicts as V
    from np_data_validation_spark.plans import onepass as OP

    snapshot = spark.read.parquet(seq)
    manifest = spark.read.parquet(man)
    slim = snapshot.select(
        "doc_id",
        "source",
        "n_tok",
        F.when(F.col("tokens").isNotNull(), F.size("tokens")).alias("n_tok_actual"),
        "tokens",
    )
    rungs = [
        ("scan", slim.drop("tokens")),
        ("hash", with_tok_hash(slim).drop("tokens")),
        ("exchange", OP.hashed_identity(snapshot)),
        ("join_case", OP.pairs_stage1(snapshot, manifest)),
    ]
    cum = {}
    for name, df in rungs:
        cum[name] = _best(
            tr, f"ladder.{name}", lambda df=df: df.write.format("noop").mode("overwrite").save()
        )
    cum["write"] = _best(
        tr,
        "ladder.write",
        lambda: OP.pairs_stage1(snapshot, manifest).write.mode("overwrite").parquet(
            str(work / "ladder_pairs")
        ),
    )
    prev = 0.0
    for name in ("scan", "hash", "exchange", "join_case", "write"):
        m[f"stage1.{name}_s"] = cum[name] - prev
        prev = cum[name]
    miss = F.sum(F.when(F.col("verdict_code") == V.MISSING_COUNTERPART, 1).otherwise(0))
    done = {}

    def pairs():
        obs = Observation()
        done["s1"] = _write_read(
            spark,
            OP.pairs_stage1(snapshot, manifest).observe(obs, miss.alias("n")),
            str(work / "pairs_stage1"),
        )
        m["onepass.probe_miss_rows"] = int(obs.get["n"] or 0)

    m["stage1.pairs_s"] = _best(tr, "stage1.pairs", pairs)
    m["stage1.ladder_closure"] = abs(cum["write"] - m["stage1.pairs_s"]) / m["stage1.pairs_s"]
    return done["s1"], manifest


def derive(spark, tr: Tracer, s1, manifest, work: Path, m: dict) -> dict:
    """The derive steps of validate_onepass one at a time (warm)."""
    from np_data_validation_spark.operators import skew as SK
    from np_data_validation_spark.plans import onepass as OP

    with tr.span("derive.probe"):
        probed, _, _ = OP.probe_pairs_from(
            spark, s1, manifest, n_miss=m["onepass.probe_miss_rows"]
        )
        probe = _write_read(spark, probed, str(work / "derive_probe"))
    with tr.span("derive.identities"):
        ids = _write_read(spark, OP.identity_rows(s1), str(work / "derive_ids"))
    with tr.span("derive.skew"):
        key = ("doc_id", "source")
        hot = SK.detect_hot_keys(s1, key) or SK.detect_hot_keys(probe, key)
    merged = OP.merged_pairs(s1, probe)
    with tr.span("derive.rollup"):
        OP.rollup_pairs(
            merged, salt_buckets=SK.DEFAULT_SALT_BUCKETS if hot else None
        ).write.mode("overwrite").parquet(str(work / "derive_rolled"))
    with tr.span("derive.violations"):
        n_viol = OP.all_violations(merged, ids).count()
    with tr.span("derive.stats"):
        n_stats = OP.stats_from_identities(ids).count()
    for step, name in (
        ("probe", "onepass.probe_s"),
        ("identities", "onepass.identities_s"),
        ("skew", "skew.detect_s"),
        ("rollup", "onepass.rollup_s"),
        ("violations", "onepass.violations_s"),
        ("stats", "onepass.stats_s"),
    ):
        m[name] = tr.wall(f"derive.{step}")
    return {"n_violations": n_viol, "n_stats_rows": n_stats}


def run_validation_layers(spark, tr, inp, work: Path, m: dict, d: dict) -> None:
    from np_data_validation_spark.functions.hashing import xxh64_int32_batch
    from np_data_validation_spark.operators import verdicts as V
    from np_data_validation_spark.plans import engine as E
    from np_data_validation_spark.plans import onepass as OP

    from workloads import WORKLOADS, check_full

    tier = WORKLOADS["full_long"]["tier"]
    exp = inp["expected"]
    seq, man = str(inp["dir"] / "sequences"), str(inp["dir"] / "manifest")

    # 1. the cold call, then the traced twin of the timed call
    for p in ("cold", "call"):
        out = work / f"{p}_out"
        with tr.span(p):
            r = validation_calls(spark, tr, seq, man, str(out), p + ".")
        bad, branch = check_full(out, exp, r["result"], tier)
        d["mismatches"] += [f"{p}: {b}" for b in bad]
        d["branch"][p] = branch

    # 2-3. ladder and derive steps (warm)
    n_viol = sum(exp["violations"].values())
    n_stats = len(exp["per_source"]) + 1  # one row per partition + the global row
    s1, manifest = ladder(spark, tr, seq, man, work, m)
    counts = derive(spark, tr, s1, manifest, work, m)
    if (counts["n_violations"], counts["n_stats_rows"]) != (n_viol, n_stats):
        d["mismatches"].append(f"derive counts {counts}, want {(n_viol, n_stats)}")
    # 4. composed calls on the same input (warm)
    with tr.span("composed.validate_onepass"):
        res = OP.validate_onepass(
            spark,
            spark.read.parquet(seq),
            spark.read.parquet(man),
            str(work / "onepass"),
            derive_counts=True,
        )
    pins = {
        "probe_tier": I.probe_tier(res.n_missing),
        "probe_salted": res.probe_salted,
        "salt_buckets_used": res.salt_buckets_used,
    }
    d["branch"]["validate_onepass"] = pins
    if pins != {"probe_tier": tier, "probe_salted": False, "salt_buckets_used": None}:
        d["mismatches"].append(f"validate_onepass took {pins}")
    if (res.n_violations, res.n_stats_rows) != (n_viol, n_stats):
        d["mismatches"].append(
            f"validate_onepass counts {(res.n_violations, res.n_stats_rows)}, want {(n_viol, n_stats)}"
        )
    out2 = work / "warm_out"
    with tr.span("composed.run_validation"):
        rv = E.run_validation(spark, seq, man, str(out2), content_aware=True)
    bad, branch = check_full(out2, exp, rv, tier)
    d["mismatches"] += [f"run_validation: {b}" for b in bad]
    m["onepass.validate_s"] = tr.wall("composed.validate_onepass")
    m["engine.run_s"] = tr.wall("composed.run_validation")
    m["engine.overhead_s"] = m["engine.run_s"] - m["onepass.validate_s"]
    m["engine.written_mb"] = I.dir_bytes(str(out2)) / MB
    m["trace.overhead_s"] = tr.wall("call") - m["engine.run_s"]

    serial = m["stage1.pairs_s"] + sum(
        m[k]
        for k in (
            "onepass.probe_s",
            "onepass.identities_s",
            "skew.detect_s",
            "onepass.rollup_s",
            "onepass.violations_s",
            "onepass.stats_s",
        )
    )
    m["onepass.overlap_s"] = serial - m["onepass.validate_s"]

    # hash kernel over this workload's own token buffers
    bufs = I.token_buffers(seq)
    nbytes = sum(f.nbytes for f, _ in bufs)
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        for flat, offs in bufs:
            xxh64_int32_batch(flat, offs)
        best = min(best, time.perf_counter() - t)
    m["hashing.kernel_gbps"] = nbytes / best / 1e9

    # 5. resume after one partition's payload changed
    src = sorted(exp["per_source"])[-1]
    labels = exp["labels"]
    clean = labels[(labels["source"] == src) & (labels["case"] == "clean")]["doc_id"]
    flipped = list(clean[:20])
    I.corrupt_partition(seq, src, flipped)
    with tr.span("resume"):
        r = validation_calls(spark, tr, seq, man, str(out2), "resume.")
    exp2 = dict(exp)
    exp2["verdicts"] = dict(exp["verdicts"])
    exp2["verdicts"][V.SELF] -= len(flipped)
    exp2["verdicts"][V.UNKNOWN] = exp2["verdicts"].get(V.UNKNOWN, 0) + len(flipped)
    exp2["status"] = dict(exp["status"])
    exp2["status"]["pass"] -= len(flipped)
    exp2["status"]["unknown"] = exp2["status"].get("unknown", 0) + len(flipped)
    exp2["validated"] = [src]
    exp2["skipped"] = [q for q in sorted(exp["per_source"]) if q != src]
    bad, branch = check_full(out2, exp2, r["result"])
    d["mismatches"] += [f"resume: {b}" for b in bad]
    d["branch"]["resume"] = branch
    m["checkpoint.fingerprint_s"] = tr.wall("resume.checkpoint.fingerprint")
    m["checkpoint.rehash_s"] = tr.wall("resume.checkpoint.gate")
    m["checkpoint.rehash_rows"] = r["rehash_rows"]
    m["checkpoint.useful_frac"] = r["validated_rows"] / max(r["rehash_rows"], 1)
    m["checkpoint.resume_s"] = tr.wall("resume")
    m["engine.audit_s"] = tr.wall("resume.engine.audit")


# ---------------------------------------------------------------------------
# corpus preparation
# ---------------------------------------------------------------------------


def corpus_calls(spark, tr: Tracer, inp: dict, out: str, p: str, sample_ppm: int) -> None:
    """operators.dedup.prepare_corpus, one stage per span, each stage
    materialized at the end of its span."""
    from pyspark.sql import functions as F

    from np_data_validation_spark.functions import text as TX
    from np_data_validation_spark.operators import dedup as DD

    with tr.span(p + "text.funnel"):
        docs = spark.read.parquet(str(inp["dir"] / "documents.parquet"))
        ev = spark.read.parquet(str(inp["dir"] / "eval.parquet"))
        fn = (
            DD.ensure_cpu_splits(docs.select("doc_id", "text"))
            .withColumn("_funnel", TX.filter_funnel("text"))
            .localCheckpoint(eager=True)
        )
    s1 = fn.filter(F.col("_funnel") == "keep").select("doc_id", "text")
    with tr.span(p + "dedup.contamination"):
        contam = (
            DD.contamination_overlap(s1, ev, "text")
            .select("doc_id")
            .withColumn("_contam", F.lit(True))
            .localCheckpoint(eager=True)
        )
    s2 = s1.join(contam.select("doc_id"), "doc_id", "left_anti")
    with tr.span(p + "dedup.dedup_corpus"):
        dd = DD.dedup_corpus(s2, "text").localCheckpoint(eager=True)
    with tr.span(p + "corpus.write"):
        out_df = (
            fn.select("doc_id", "_funnel")
            .join(contam, "doc_id", "left")
            .join(dd.select("doc_id", F.col("drop_stage").alias("_dd")), "doc_id", "left")
        )
        sampled_out = ~TX.hash_sample_predicate(F.col("doc_id"), sample_ppm)
        out_df.select(
            "doc_id",
            F.when(F.col("_funnel") != "keep", F.col("_funnel"))
            .when(F.col("_contam"), F.lit("contaminated"))
            .when(F.col("_dd") == "exact", F.lit("exact"))
            .when(F.col("_dd") == "near", F.lit("near"))
            .when(sampled_out, F.lit("sampled_out"))
            .otherwise(F.lit("keep"))
            .alias("disposition"),
        ).write.mode("overwrite").parquet(out)


def run_corpus_layers(spark, tr, inp, work: Path, m: dict, d: dict) -> None:
    from np_data_validation_spark.operators import dedup as DD

    from workloads import WORKLOADS, call_corpus, check_corpus

    ppm = WORKLOADS["corpus_prep"]["sample_ppm"]
    for p in ("cold", "call"):
        out = work / f"{p}_out"
        with tr.span(p):
            corpus_calls(spark, tr, inp, str(out), p + ".", ppm)
        bad, branch = check_corpus(inp, out)
        d["mismatches"] += [f"{p}: {b}" for b in bad]
        d["branch"][p] = branch
    for span, name in (
        ("text.funnel", "text.funnel_s"),
        ("dedup.contamination", "dedup.contamination_s"),
        ("dedup.dedup_corpus", "dedup.dedup_corpus_s"),
        ("corpus.write", "corpus.write_s"),
    ):
        m[name] = tr.wall(f"call.{span}")
    with tr.span("composed.prepare_corpus"):
        call_corpus(spark, inp, work / "composed_out")
    bad, _ = check_corpus(inp, work / "composed_out")
    d["mismatches"] += [f"composed: {b}" for b in bad]
    m["trace.overhead_s"] = tr.wall("call") - tr.wall("composed.prepare_corpus")
    docs = spark.read.parquet(str(inp["dir"] / "documents.parquet"))
    m["text.shingle_hash_s"] = _best(
        tr,
        "text.shingle_hash",
        lambda: DD.shingle_hash_table(docs).write.format("noop").mode("overwrite").save(),
    )


# ---------------------------------------------------------------------------


def run(spark, workload: str, inp: dict, work: Path, session_s: float) -> dict:
    tr = Tracer(spark)
    m = {name: 0.0 for name in metric_units()}
    d = {"mismatches": [], "errors": [], "branch": {}, "report": []}
    m["session.start_s"] = session_s
    m["host.canary_gbps"] = host.canary_gbps()
    steal0 = host.steal_ticks()
    try:
        if workload == "corpus_prep":
            run_corpus_layers(spark, tr, inp, work, m, d)
        else:
            run_validation_layers(spark, tr, inp, work, m, d)
    except Exception:  # noqa: BLE001 - reported as a failed traced run
        d["errors"].append(traceback.format_exc())
    m["host.steal_ms"] = host.steal_ms(host.steal_ticks() - steal0)
    spans = tr.finish()
    for root in ("cold", "call"):
        kids = [s for s in spans if s["parent"] is not None and spans[s["parent"]]["name"] == root]
        if not kids:
            continue
        top = max(kids, key=lambda s: s["self_s"])
        d["report"].append(
            f"largest layer of the {root} pass: {top['name']} "
            f"{top['self_s']:.2f}s of {tr.wall(root):.2f}s"
        )
    call = [s for s in spans if s["parent"] is not None and spans[s["parent"]]["name"] == "call"]
    if call:
        m["trace.wall_s"] = tr.wall("call")
        m["trace.coverage"] = sum(s["self_s"] for s in call) / tr.wall("call")
        for s in call:
            for field in SPAN_FIELDS:
                m[f"{s['name']}.{field}"] = s[field]
    pairs = [s for s in spans if s["name"] == "stage1.pairs#0"]
    if pairs:
        m["stage1.written_mb"] = pairs[0]["written_mb"]
        m["stage1.shuffle_mb"] = pairs[0]["shuffle_mb"]
        verdict = "within" if m["stage1.ladder_closure"] <= 0.10 else "NOT within"
        d["report"].append(
            f"stage-1 ladder closure {m['stage1.ladder_closure']:.1%}: marginals "
            f"sum {verdict} 10% of the pairs_stage1 span"
        )
    d["report"] += [f"MISMATCH {x}" for x in d["mismatches"]]
    d["report"] += ["ERROR " + e.replace("\n", "\n#   ") for e in d["errors"]]
    d["spans"] = spans
    d["attempted"] = sum(1 for s in spans if s["parent"] is None)
    units = metric_units()
    d["metrics"] = {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}
    return d
