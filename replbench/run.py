"""Replication and analytics benchmark.

    python3 replbench/run.py --workload catchup --seed 1 --seconds 25 --trace 0
    python3 replbench/run.py --smoke

Runs one workload (see ``workloads.py`` and README.md) in a fresh Spark
session, checks its outputs, and prints every metric by name and unit.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it (``result: {...}``) holds the full record with provenance;
the same record and the spans are written to ``.replbench/runs/``.

Exit code: 0 when every output was correct, 1 when a check failed, 2 when
the program under test is missing or the run could not complete.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
import uuid
from pathlib import Path

import probes as tr
import workloads as wl

ROOT = Path(__file__).resolve().parent.parent  # the checkout being measured
WORK = ROOT / ".replbench"
# Streams are stopped this long after start, plus --seconds: with the default
# 20 s every run, set-up included, ends well inside 180 s.
DEADLINE_S = 140

# Metric name → unit. BENCHMARK.json declares the same names; --smoke
# checks that the two agree.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_s_p50": "s",
}
PIPELINE_LAYERS = {
    "replication.batches": "count",
    "streaming.apply.snapshot_jobs": "count",
    "streaming.apply.jobs_per_batch": "count",
    "streaming.apply.stages_per_batch": "count",
    "streaming.apply.tasks_per_batch": "count",
    "streaming.apply.input_rows_ratio": "ratio",
    "streaming.apply.bytes_written_per_batch": "bytes",
    "streaming.apply.files_written_per_batch": "count",
    "streaming.apply.buckets_written_per_batch": "count",
    "streaming.apply.write_amplification": "ratio",
    "streaming.apply.state_bytes": "bytes",
    "streaming.apply.state_files": "count",
    **{f"replication.trigger.{p}_share": "ratio" for p in
       ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")},
}
COMMON_LAYERS = {
    "session.start_s": "s",
    "inputs.prepare_s": "s",
    "ops.exec_s.p50": "s",
    "ops.plan_s.p50": "s",
    "tracing.overhead_s": "s",
    "rss.jvm_mb": "MB",
    "rss.python_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    suite = {}
    for label in wl.headline().values():
        suite[f"suite.{label}.jobs"] = "count"
        suite[f"suite.{label}.exchanges"] = "count"
    return {**COMMON_LAYERS, **PIPELINE_LAYERS, **suite}


def end_to_end(workload: str, res: dict, common: dict) -> dict[str, float]:
    """The user-visible metrics. Each has one meaning per workload:
    throughput is envelopes/s (pipelines) or queries/s (analytics);
    op_s_p50 is the median warm micro-batch apply (catchup), replication lag
    (live_tail) or per-query build+materialize time (analytics)."""
    return {
        "setup_s": common["session_start_s"] + common["warmup_s"] + tr.median(res["prepare_s"]),
        "throughput_per_s": res["queries_per_s"] if workload == "analytics"
        else res["envelopes_per_s"],
        "op_s_p50": tr.median(res["op_s"]),
    }


def per_layer(workload: str, res: dict, common: dict) -> dict[str, float]:
    """Per-layer metrics. Times are measured on every workload; a count
    reads 0 on a workload that never enters its layer."""
    out = dict.fromkeys(per_layer_units(), 0)
    out.update({
        "session.start_s": common["session_start_s"],
        "inputs.prepare_s": tr.median(res["prepare_s"]),
        "ops.exec_s.p50": tr.median(res["exec_s"]),
        "ops.plan_s.p50": tr.median(res["plan_s"]),
        "tracing.overhead_s": res["overhead_s"] or 0.0,
        "rss.jvm_mb": common["rss_jvm_mb"],
        "rss.python_mb": common["rss_python_mb"],
    })
    if workload == "analytics":
        for label, q in res["per_query"].items():
            out[f"suite.{label}.jobs"] = q["jobs"] or 0
            out[f"suite.{label}.exchanges"] = q["exchanges"] or 0
    else:
        out["replication.batches"] = res["n_chunks"]
        out["streaming.apply.input_rows_ratio"] = res["input_rows_ratio"]
        out.update({f"streaming.apply.{k}": v for k, v in res["apply"].items()})
        out.update({f"replication.{k}": v for k, v in res["trigger"].items()
                    if k.endswith("_share")})
    return out


def detail(workload: str, res: dict, common: dict) -> dict[str, tuple[float, str]]:
    """Every figure under the name the design notes use, for people: the
    workload-specific end-to-end metrics and the per-layer times that only
    some workloads have."""
    d = {"error_rate": (common["failed"] / common["attempted"], "ratio"),
         "peak_rss_mb": (common["rss_jvm_mb"] + common["rss_python_mb"], "MB")}
    if workload != "analytics":
        d.update({
            "envelopes_per_s": (res["envelopes_per_s"], "1/s"),
            "replica_read_s": (tr.median(res["replica_read_s"]), "s"),
            "snapshot_s": (res["snapshot_s"], "s"),
            "tail_s": (res["tail_s"], "s"),
            "replication.stage_s": (tr.median(res["stage_s"]), "s"),
            "streaming.apply.apply_batch_s.p50": (tr.median(res["exec_s"]), "s"),
        })
        d.update({f"replication.{k}": (v, "ms") for k, v in res["trigger"].items()
                  if k.endswith("_ms.p50")})
    if workload == "live_tail":
        lags = res["op_s"]
        d["lag_s_p50"] = (tr.median(lags), "s")
        if len(lags) >= 40:  # ten samples beyond the 75th percentile
            d["lag_s_p75"] = (tr.pct(lags, 0.75), "s")
        d["generator.late_s.max"] = (max(res["generator_late_s"]), "s")
    if workload == "analytics":
        ops = res["op_s"]
        d["suite_s"] = (tr.median(res["pass_s"]), "s")
        for q, n in ((0.75, 40), (0.9, 100)):  # ten samples beyond the percentile
            if len(ops) >= n:
                d[f"query_s_p{round(q * 100)}"] = (tr.pct(ops, q), "s")
        for label, q in res["per_query"].items():
            d[f"suite.{label}.build_s"] = (q["build_s"], "s")
            d[f"suite.{label}.exec_s"] = (q["exec_s"], "s")
    return d


def head() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def source_sha256() -> str:
    """Digest of the program's source files, which identifies the code
    measured where no git HEAD is available."""
    h = hashlib.sha256()
    for p in sorted([ROOT / "bench.py", *(ROOT / "mongodb_mysql_cdc_spark").rglob("*.py")]):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def isolate(tmp: Path) -> None:
    """Keep every file the run writes inside its own temp root: the
    program's ``mkdtemp`` dirs, Spark's local dirs, the JVM's temp files."""
    tempfile.tempdir = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(workload: str, seed: int, seconds: int, traced: bool,
                 after=None) -> tuple[dict, dict, tr.Tracer]:
    """Start a session, run one workload, stop the session; returns (result,
    common figures, tracer). ``after(run, res)`` runs before the stop."""
    from mongodb_mysql_cdc_spark.session import get_session

    t_start = time.monotonic()
    run_id = uuid.uuid4().hex[:12]
    tracer = tr.Tracer(run_id, traced)
    load1_start = os.getloadavg()[0]
    with tracer.span("session.start") as s:
        spark = get_session(f"replbench-{workload}")
    try:
        # the same warm-up bench.py uses: JVM, codegen and the first job
        with tracer.span("session.warmup") as w:
            spark.range(1_000_000).selectExpr("sum(id)").collect()
        run = wl.Run(spark, seed, seconds, traced, tracer,
                     tr.JobCounter(spark.sparkContext, run_id),
                     deadline=t_start + DEADLINE_S + seconds)
        res = wl.WORKLOADS[workload](run)
        if after is not None:
            after(run, res)
        sc = spark.sparkContext
        common = {
            "run_id": run_id, "session_start_s": s["dur"], "warmup_s": w["dur"],
            "attempted": run.attempted, "failed": run.failed, "failures": run.failures[:20],
            "rss_jvm_mb": tr.vm_hwm_mb(sc._jvm.java.lang.ProcessHandle.current().pid()),
            "rss_python_mb": tr.vm_hwm_mb(),
            "provenance": {
                "head": head(), "source_sha256": source_sha256(), "seed": seed,
                "workload": workload, "seconds": seconds, "trace": int(traced),
                "nproc": len(os.sched_getaffinity(0)),
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "master": sc.master,
                "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
                "driver_memory": sc.getConf().get("spark.driver.memory"),
                "load1_start": load1_start, "load1_end": os.getloadavg()[0],
                "generator_late_s_max": max(res.get("generator_late_s") or [0.0]),
            },
        }
        return res, common, tracer
    finally:
        stop_spark(spark)


def emit(workload: str, res: dict, common: dict, tracer, traced: bool) -> dict:
    """Print the human-readable lines, the full record and the result line;
    write the record and spans to ``.replbench/runs``. Returns the line."""
    e2e = end_to_end(workload, res, common)
    layers = per_layer(workload, res, common)
    extra = detail(workload, res, common)
    units = {**END_TO_END, **per_layer_units()}
    shown = [(n, v, units[n]) for n, v in {**e2e, **(layers if traced else {})}.items()]
    for name, value, unit in shown + [(n, v, u) for n, (v, u) in extra.items()]:
        # a figure is missing only when the operations behind it failed
        print(f"{name} = {'n/a' if value is None else format(value, '.6g')} {unit}")
    correct = common["failed"] == 0
    record = {"correct": correct, "end_to_end": e2e, "per_layer": layers,
              "detail": {k: v for k, (v, _) in extra.items()}, **common, "result": res}
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    stem = f"{workload}-seed{common['provenance']['seed']}-trace{int(traced)}-{common['run_id']}"
    (runs / f"{stem}.json").write_text(json.dumps(record, indent=1, default=str))
    if traced:
        tracer.dump(str(runs / f"{stem}.spans.jsonl"))
    print("result: " + json.dumps(record, default=str))
    metrics = layers if traced else e2e
    line = {
        "correct": correct, "attempted": common["attempted"], "failed": common["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return line


def smoke(seed: int) -> int:
    """Run every workload briefly in one process and check two things: each
    metric BENCHMARK.json names is printed with its declared unit, and the
    correctness gate trips on a deliberately corrupted copy of the state."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    problems, tripped = [], {}

    def corrupt_and_gate(run, res):
        from pyspark.sql import functions as F

        from mongodb_mysql_cdc_spark.streaming.apply import CdcParquetSink

        # move one live key's timestamp by a microsecond in a copy of the
        # state: same rows, same schema, one wrong value
        good = CdcParquetSink(run.spark, res["sink_dir"])
        key = good.current().agg(F.min("key")).first()[0]
        bad = tempfile.mkdtemp(prefix="smoke_corrupt_")
        ts = F.col("ts") + F.expr("INTERVAL 1 MICROSECOND")
        (good.state().withColumn("ts", F.when(F.col("key") == key, ts).otherwise(F.col("ts")))
         .write.partitionBy("bucket").parquet(os.path.join(bad, "state")))
        replica = {tr.digest(CdcParquetSink(run.spark, bad).current())[0]}
        probe = wl.Run(run.spark, run.seed, run.seconds, False, run.tracer, run.jobs,
                       run.deadline)
        verdict = wl.gate(probe, replica, res["src"])
        tripped["gate_ok_on_corrupt"] = verdict["gate_ok"]
        print(f"smoke: key {key} moved by 1 us: replica {verdict['replica_digest']} vs "
              f"expected {verdict['expected_digest']}, gate_ok={verdict['gate_ok']}")

    for workload in ("catchup", "analytics", "live_tail"):
        for traced in (False, True):
            res, common, tracer = run_workload(
                workload, seed, 8, traced,
                after=corrupt_and_gate if (workload, traced) == ("catchup", False) else None)
            line = emit(workload, res, common, tracer, traced)
            print(json.dumps(line))
            if not line["correct"]:
                problems.append(f"{workload} trace={int(traced)} incorrect: {common['failures']}")
            wanted = bench["per_layer" if traced else "end_to_end"]
            for m in wanted:
                got = line["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{workload} trace={int(traced)}: {m['name']} "
                                    f"[{m['unit']}] printed as {got}")
            extra = set(line["metrics"]) - {m["name"] for m in wanted}
            if extra:
                problems.append(f"{workload}: undeclared metrics {sorted(extra)}")
    if tripped.get("gate_ok_on_corrupt") is not False:
        problems.append(f"the gate did not trip on corrupted state: {tripped}")
    missing = set(declared) - set(END_TO_END) - set(per_layer_units())
    if missing:
        problems.append(f"declared but never produced: {sorted(missing)}")
    for p in problems:
        print(f"SMOKE FAIL: {p}")
    print("smoke: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 0 if not problems else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("catchup", "live_tail", "analytics"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required")

    sys.path.insert(0, str(ROOT))
    try:
        import bench  # noqa: F401  (the headline list lives there)
        import mongodb_mysql_cdc_spark.replication  # noqa: F401
    except ImportError as e:
        print(f"replbench: the program under test is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    WORK.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="tmp-", dir=WORK))
    isolate(tmp)
    try:
        if args.smoke:
            return smoke(args.seed)
        res, common, tracer = run_workload(args.workload, args.seed, args.seconds,
                                           bool(args.trace))
        line = emit(args.workload, res, common, tracer, bool(args.trace))
        print(json.dumps(line), flush=True)
        return 0 if line["correct"] else 1
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
