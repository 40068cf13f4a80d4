"""Benchmark of the validation engine as a user runs it.

    python3 perfbench/run.py --workload full_long --seed 1 --seconds 8 --trace 0

Run from the repository root. One process is one client with one call in
flight (closed loop) on a Spark session of at most 4 local cores. A run
starts a fresh session, generates its inputs, and makes one warm-up call —
the cold first call a ``python -m np_data_validation_spark`` user pays;
those three make ``setup_s``. Timed calls then repeat until ``--seconds``
have been measured (at least one); ``wall_s`` is their median. Every
output, the warm-up's included, is checked against what the seeded
generator planted.

Workloads:

* ``full_long``  — plans.engine.run_validation (fresh output dir,
  content_aware=True) over long sequences with synth's default fault mix.
* ``corpus_prep`` — operators.dedup.prepare_corpus over a seeded document
  corpus plus eval suite, dispositions written to parquet.

``--trace 1`` runs the layers one call at a time instead (see layers.py)
and reports per-layer metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes lives under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (a detail JSON per run) in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "np_data_validation_spark"

#: Input generation is repeated this many times per run; setup_s takes the
#: median (the session itself can start only once per process).
SETUP_REPS = 3

WORKLOAD_NAMES = ("full_long", "corpus_prep")

E2E = {
    "wall_s": "s",
    "rows_per_s": "1/s",
    "bytes_written_per_row": "B",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    from host import driver_heap

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["NPDV_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = driver_heap()
    # an override would change which checkpoints the resume gate honours
    os.environ.pop("NPDV_CODE_VERSION", None)
    tempfile.tempdir = str(tmp)


def start_session(work: Path):
    from host import cores

    from np_data_validation_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# ---------------------------------------------------------------------------
# setup: inputs and expected outputs
# ---------------------------------------------------------------------------


def make_inputs(workload: str, seed: int, work: Path) -> tuple[dict, float]:
    """Generate the workload's inputs SETUP_REPS times (same seed, same
    bytes); return the last set and the median generation time."""
    import pyarrow.parquet as pq

    import inputs as I
    from workloads import WORKLOADS

    cfg = WORKLOADS[workload]
    times, digests = [], set()
    for rep in range(SETUP_REPS):
        d = work / f"input{rep}"
        t = time.perf_counter()
        if workload == "corpus_prep":
            docs, ev, expected = I.make_corpus(cfg["docs"], seed, cfg["sample_ppm"])
            d.mkdir()
            pq.write_table(docs, d / "documents.parquet")
            pq.write_table(ev, d / "eval.parquet")
            inp = {"dir": d, "expected": expected, "rows": docs.num_rows}
        else:
            expected = I.make_validation(
                str(d), seed, cfg["rows"], cfg["min_len"], cfg["max_len"]
            )
            inp = {"dir": d, "expected": expected, "rows": expected["rows"]}
        times.append(time.perf_counter() - t)
        digests.add(I.digest(str(d)))
        if rep:
            shutil.rmtree(work / f"input{rep - 1}")
    if len(digests) != 1:
        raise RuntimeError("input generation is not deterministic")
    inp["digest"] = digests.pop()
    return inp, statistics.median(times)


def measure(spark, workload: str, inp: dict, seconds: float, work: Path) -> dict:
    """Closed loop: calls until ``seconds`` of call time have been measured
    (at least one). Steal and the memory canary are read beside each call;
    checks run outside the timed region."""
    import host
    import inputs as I
    from workloads import WORKLOADS, call_corpus, call_full, check_corpus, check_full

    calls = []
    measured = 0.0
    while not calls or measured < seconds:
        out = work / f"out{len(calls)}"
        canary = host.canary_gbps()
        steal0 = host.steal_ticks()
        rec: dict = {}
        try:
            with host.RssSampler(jvm_pid()) as rss:
                if workload == "corpus_prep":
                    r = call_corpus(spark, inp, out)
                else:
                    r = call_full(spark, inp, out)
            rec["wall_s"] = r["wall_s"]
            rec["peak_rss_mb"] = rss.peak_mb
            if workload == "corpus_prep":
                bad, branch = check_corpus(inp, out)
            else:
                bad, branch = check_full(
                    out, inp["expected"], r["result"], WORKLOADS[workload]["tier"]
                )
            rec["bytes"] = I.dir_bytes(str(out))
            rec["branch"] = branch
            rec["mismatches"] = bad
        except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
            rec["error"] = traceback.format_exc()
            rec.setdefault("wall_s", 0.0)
        rec["steal_ms"] = host.steal_ms(host.steal_ticks() - steal0)
        rec["canary_gbps"] = canary
        rec["ok"] = "error" not in rec and not rec["mismatches"]
        calls.append(rec)
        measured += rec["wall_s"]
        shutil.rmtree(out, ignore_errors=True)
        if "error" in rec:
            break
    return {"calls": calls}


def e2e_metrics(calls: list[dict], rows: int, setup_s: float) -> dict:
    ok = [c for c in calls if c["ok"]] or calls
    wall = statistics.median(c["wall_s"] for c in ok)
    vals = {
        "wall_s": wall,
        "rows_per_s": rows / wall if wall else 0.0,
        "bytes_written_per_row": statistics.median(c.get("bytes", 0) for c in ok) / rows,
        "peak_rss_mb": statistics.median(c.get("peak_rss_mb", 0.0) for c in ok),
        "setup_s": setup_s,
    }
    return {k: {"value": v, "unit": E2E[k]} for k, v in vals.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (PKG / "__init__.py").is_file():
        print(f"perfbench: engine package not found at {PKG}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    import host

    cwd = Path.cwd()
    work = cwd / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    detail_dir = cwd / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)

    spark = None
    try:
        spark, session_s = start_session(work)
        inp, gen_s = make_inputs(args.workload, args.seed, work)
        if args.trace:
            import layers

            detail = layers.run(spark, args.workload, inp, work, session_s)
            result = {
                "correct": not detail["mismatches"] and not detail["errors"],
                "attempted": detail["attempted"],
                "failed": len(detail["errors"]) + (1 if detail["mismatches"] else 0),
                "metrics": detail["metrics"],
            }
        else:
            warmup = measure(spark, args.workload, inp, 0, work)["calls"]
            detail = {"warmup": warmup[0], "calls": []}
            if warmup[0]["ok"]:
                detail = measure(spark, args.workload, inp, args.seconds, work)
                detail["warmup"] = warmup[0]
            calls = warmup + detail["calls"]
            failed = sum(not c["ok"] for c in calls)
            setup_s = session_s + gen_s + warmup[0]["wall_s"]
            result = {
                "correct": failed == 0,
                "attempted": len(calls),
                "failed": failed,
                "metrics": e2e_metrics(detail["calls"] or warmup, inp["rows"], setup_s),
            }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    detail.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        input_digest=inp["digest"],
        setup={"session_s": session_s, "generate_s": gen_s},
        config={
            "cores": host.cores(),
            "driver_heap": os.environ["SPARK_DRIVER_MEM"],
            "local_dir": ".perfbench_work/<run>/spark-local",
        },
    )
    detail_dir.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (detail_dir / name).write_text(json.dumps(detail, indent=1, default=str))
    _summary(detail, result)
    print(json.dumps(result))
    return 0


def _summary(detail: dict, result: dict) -> None:
    print(
        f"# {detail['workload']} seed={detail['seed']} trace={detail['trace']} "
        f"input={detail['input_digest']} config={detail['config']}"
    )
    warmup = [detail["warmup"]] if "warmup" in detail else []
    for c in warmup + detail.get("calls", []):
        kind = "warm-up" if c in warmup else "call"
        print(
            f"#   {kind} wall={c['wall_s']:.3f}s rss={c.get('peak_rss_mb', 0):.0f}MB "
            f"steal={c['steal_ms']:.0f}ms canary={c['canary_gbps']:.1f}GB/s "
            f"branch={c.get('branch')} ok={c['ok']}"
        )
        for m in c.get("mismatches", []):
            print(f"#   MISMATCH {m}")
        if "error" in c:
            print("#   ERROR " + c["error"].replace("\n", "\n#   "))
    if "calls" in detail:
        ok = result["attempted"] - result["failed"]
        print(f"#   failed_frac={result['failed'] / result['attempted']:.3f} ({ok} ok)")
    for line in detail.get("report", []):
        print(f"#   {line}")
    for name, m in result["metrics"].items():
        print(f"#   {name} = {m['value']:.6g} {m['unit']}")


if __name__ == "__main__":
    sys.exit(main())
