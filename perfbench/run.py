"""Benchmark of the graft engine: three workloads, one command.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

builds the engine and the harness from source (``perfbench/build.py``),
makes the inputs from the seed, runs the workload on a local Spark
session, checks its outputs and prints one JSON line last: ``correct``,
``attempted``, ``failed`` and the end-to-end metrics (``--trace 0``) or
the per-layer metrics (``--trace 1``), each with its unit. A traced run
also writes its spans to ``.bench_build/traces/``. See README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent
WORK = ROOT / ".bench_build"
SCALE = 0.01
SETUP_ROUNDS = 3
CORES = 2
JVM_TIMEOUT_S = 170
# The registry queries of query_mix: tier-backed (dedup, graph, pipe,
# similarity, extract), small planning-bound ones (previews, functions,
# schema QC), shuffle-heavy joins and windows, and the job, lookup and
# recon queries of the ETL modules. Each takes 2-8 % of a pass.
QUERIES = [
    "bpc_by_sku_rollup", "dedup_cluster_sizes", "dedup_minhash_lsh",
    "events_range_join", "events_session_window", "events_tumbling_window",
    "f_date_functions", "fcst_holt_linear", "graph_components",
    "j7_lookup_notmapped", "j_salted_join", "job_fcst_unknown",
    "o4_head_preview", "pipe_curated_corpus", "pipe_hash_split",
    "qc_schema_drift", "qc_snapshot_cdc", "sim_bruteforce_topk",
    "text_encoding_qc", "text_token_counts",
]
# Tiers built (and priced) in every set-up round; the rest of the mix's
# tiers are built by the warm-up pass.
QUERY_TIERS = ["star.siop", "star.calendar", "dedup.shingles", "pipe.quality",
               "sessions"]
# etl_cycle is not in BENCHMARK.json: one run takes over a minute (see
# README.md), but it runs and checks like the others.
WORKLOADS = ["query_mix", "stream_ingest", "etl_cycle"]
PASSES = 200
# Untimed passes before the window; the window runs at least MIN_PASSES,
# so the medians over passes have enough passes to reject a slow one.
WARM_PASSES = 1
MIN_PASSES = 8
ETL_CYCLES = 200
ETL_WARM_MONTH = "1995-12-01"
STREAM_RATE = 20.0      # payloads per second, 100 events each
STREAM_WARM_S = 15.0
STREAM_USERS = 150
# A micro-batch holds about a thousand events: one shuffle partition
# (state store, rollup file) is sized to that; four would be mostly
# per-task overhead.
STREAM_PARTITIONS = 1
# A micro-batch of 1 s of events takes about 0.6 s, so batches do not
# queue even on a busy machine, and processing, not the wait for the
# next trigger, is most of an event's latency.
STREAM_TRIGGER_MS = 1000

JAVA_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xmx3g", "-XX:-UsePerfData",
     # compiler threads live as long as the JVM, so the harness can take
     # their CPU time out of the ops' (see Cpu.compilerNs in Main.scala)
     "-XX:-UseDynamicNumberOfCompilerThreads", "-Dspark.ui.enabled=false",
     "-Dspark.sql.session.timeZone=UTC"]

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms",
             "latency_p90_ms": "ms", "cpu_ms_per_op": "ms",
             "resident_mb": "MB"}

# name -> (unit, how a window total becomes the reported value):
#   None: as measured; "units": per op (query or ETL stage), or per
#   micro-batch on stream_ingest; "cycles": per ETL cycle; "calls": self
#   time of the layer's spans per operation that called it.
PER_LAYER = {
    "core.tier_build_ms": ("ms", None), "core.tiers_built": ("count", None),
    "core.tier_mem_mb": ("MB", None), "core.tier_disk_mb": ("MB", None),
    "core.checkpoints_live": ("count", None),
    "registry.build_ms": ("ms/op", "calls"),
    "registry.build_jobs": ("count/op", "units"),
    "plan.analysis_ms": ("ms/op", "units"),
    "plan.optimization_ms": ("ms/op", "units"),
    "plan.planning_ms": ("ms/op", "units"),
    "plan.rule_ms.RangeJoinRewrite": ("ms/op", "units"),
    "plan.rule_ms.SaltedJoinRewrite": ("ms/op", "units"),
    "plan.exchanges": ("count/op", "units"),
    "plan.reused_exchanges": ("count/op", "units"),
    "plan.smj": ("count/op", "units"), "plan.bhj": ("count/op", "units"),
    "plan.inmemory_scans": ("count/op", "units"),
    "plan.single_partition_windows": ("count/op", "units"),
    "plan.codegen_compiles": ("count/op", "units"),
    "exec.task_cpu_s": ("s/op", "units"), "exec.task_run_s": ("s/op", "units"),
    "exec.gc_s": ("s/op", "units"), "exec.sched_delay_ms": ("ms/op", "units"),
    "exec.shuffle_read_mb": ("MB/op", "units"),
    "exec.shuffle_write_mb": ("MB/op", "units"),
    "exec.spill_mb": ("MB/op", "units"),
    "exec.peak_exec_mem_mb": ("MB", None), "exec.tasks": ("count/op", "units"),
    "exec.stages": ("count/op", "units"), "exec.jobs": ("count/op", "units"),
    "exec.failed_tasks": ("count", None), "exec.stage_skew": ("ratio", None),
    "exec.scan_ms": ("ms/op", "units"),
    "stream.batches": ("count", None), "stream.rows_per_batch": ("rows", None),
    "stream.trigger_ms": ("ms", None), "stream.getbatch_ms": ("ms", None),
    "stream.queryplanning_ms": ("ms", None), "stream.addbatch_ms": ("ms", None),
    "stream.walcommit_ms": ("ms", None), "stream.commit_ms": ("ms", "calls"),
    "stream.state_rows": ("rows", None), "stream.state_mb": ("MB", None),
    "stream.processed_rows_s": ("1/s", None),
    "gen.sent_rows": ("rows", None), "gen.lateness_ms": ("ms", None),
    "gen.backlog_rows": ("rows", None),
    "jvm.gc_s": ("s", None), "jvm.jit_ms": ("ms", None),
    "jvm.heap_used_mb": ("MB", None),
}
# Layers only etl_cycle reaches; reported on that workload alone.
ETL_LAYER = {
    "extract.build_ms": ("ms/cycle", "calls"),
    "transform.build_ms": ("ms/cycle", "calls"),
    "extract.rows": ("rows/cycle", "cycles"),
    "load.write_ms": ("ms/cycle", "calls"),
    "load.rows_written": ("rows/cycle", "cycles"),
    "load.files_written": ("count/cycle", "cycles"),
    "load.mb_written": ("MB/cycle", "cycles"),
    "qc.report_ms": ("ms/cycle", "calls"),
    "qc.fail_rows": ("rows/cycle", "cycles"),
}
SPAN_LAYERS = {"registry.build_ms": "registry.build",
               "extract.build_ms": "extract.build",
               "transform.build_ms": "transform.build",
               "load.write_ms": "load.write", "qc.report_ms": "qc.report",
               "stream.commit_ms": "stream.commit"}
# End-to-end metrics of the traced run itself; compared with an untraced
# run of the same seed they give the tracing overhead.
TRACED_E2E = ["ops_per_s", "latency_p50_ms", "latency_p90_ms", "cpu_ms_per_op"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def dataset():
    """The engine's tables, generated once per checkout and data version."""
    d = WORK / "data" / f"v{gen.DATA_VERSION}-scale{SCALE}"
    if not d.is_dir():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        gen.write_tables(str(tmp), SCALE)
        try:
            tmp.rename(d)
        except OSError:  # another run got there first
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def expected():
    with open(HERE / "expected.json") as f:
        return json.load(f)


def spec_for(args, run_dir, data_dir):
    spec = {
        "workload": args.workload, "data_dir": str(data_dir),
        "work_dir": str(run_dir / "work"), "seconds": args.seconds,
        "min_ops": max(stats.min_samples(0.9), MIN_PASSES * len(QUERIES))
        if args.workload == "query_mix" else stats.min_samples(0.9),
        "setup_rounds": SETUP_ROUNDS,
        "partitions": STREAM_PARTITIONS if args.workload == "stream_ingest" else 4,
        "cores": CORES,
        "trace": bool(args.trace), "inject_fail": args.inject_fail,
        "out": str(run_dir / "result.json"),
    }
    exp = expected()
    if args.workload == "query_mix":
        spec["passes"] = gen.query_mix_plan(args.seed, QUERIES, PASSES)
        spec["tiers"] = QUERY_TIERS
        spec["warm_passes"] = WARM_PASSES
        spec["expected"] = {"queries": exp["queries"]}
    elif args.workload == "etl_cycle":
        spec["months"] = gen.etl_plan(args.seed, ETL_CYCLES,
                                      avoid_first=ETL_WARM_MONTH)
        spec["warm_month"] = ETL_WARM_MONTH
        spec["expected"] = exp["etl"]
    else:
        n = int(round((STREAM_WARM_S + args.seconds) * STREAM_RATE))
        payloads = run_dir / "payloads.jsonl"
        payloads.write_text("\n".join(gen.stream_payloads(
            args.seed, n, STREAM_RATE, STREAM_USERS)) + "\n")
        spec.update(payloads=str(payloads), rate=STREAM_RATE,
                    warm_s=STREAM_WARM_S, trigger_ms=STREAM_TRIGGER_MS,
                    rows_per_payload=gen.ROWS_PER_PAYLOAD, expected={})
    return spec


def run_jvm(main, spec_path, run_dir, timeout):
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
                                   "-cp", os.pathsep.join(build.classpath()),
                                   main, str(spec_path)])
    log_path = run_dir / "jvm.log"
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=out,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    lines = log_path.read_text(errors="replace").splitlines()
    for line in lines:
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if code != 0:
        tail = lines[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"perfbench: harness exited with {code}")


def per_layer(workload, result, e2e):
    counters = dict(result["layer"])
    if "stream" in result:
        counters.update(stats.generator_report(result["stream"]))
    spans = result["spans"]
    since = result["window_start_ms"]
    selfs, calls = stats.self_times(spans, since)
    units = len(result["ops"]) or max(1.0, counters.get("stream.batches", 0.0))
    cycles = max(1.0, counters.get("etl.cycles", 0.0))
    out = {}
    layers = {**PER_LAYER, **(ETL_LAYER if workload == "etl_cycle" else {})}
    for name, (unit, norm) in layers.items():
        if name in SPAN_LAYERS:
            layer = SPAN_LAYERS[name]
            v = selfs.get(layer, 0.0) / max(1, calls.get(layer, 0))
        else:
            v = counters.get(name, 0.0)
            v = v / units if norm == "units" else v / cycles if norm == "cycles" else v
        out[name] = {"value": v, "unit": unit}
    for k in TRACED_E2E:
        out[f"traced.{k}"] = {"value": e2e[k], "unit": E2E_UNITS[k]}
    out["trace.spans"] = {"value": len(spans), "unit": "count"}
    return out


def write_trace(args, result):
    """Spans, self time per layer and per-op timings of a traced run."""
    selfs, calls = stats.self_times(result["spans"], result["window_start_ms"])
    per_op = {}
    for name, start, end, ok, _w, due in stats.op_records(result):
        if ok:
            per_op.setdefault(name, []).append(end - (due if due >= 0 else start))
    ops = {k: {"n": len(v), "p50_ms": stats.percentile(v, 0.5),
               "max_ms": max(v)} for k, v in sorted(per_op.items())}
    d = WORK / "traces"
    d.mkdir(parents=True, exist_ok=True)
    path = d / f"{args.workload}-seed{args.seed}.json"
    path.write_text(json.dumps({
        "self_ms": selfs, "calls": calls, "ops": ops,
        "counters": result["layer"],
        "span_fields": ["id", "parent", "name", "op", "start_ms", "end_ms"],
        "spans": result["spans"]}))
    for k in sorted(selfs, key=lambda k: -selfs[k]):
        log(f"self {k:28s} {selfs[k]:10.1f} ms over {calls[k]} ops")
    log(f"trace written to {path}")


def record():
    """Recompute expected.json: two harness processes must agree."""
    data_dir = dataset()
    months = [ETL_WARM_MONTH] + gen.AS_OF_MONTHS
    outs = []
    for i in range(2):
        run_dir = WORK / "runs" / f"record-{os.getpid()}-{i}"
        shutil.rmtree(run_dir, ignore_errors=True)
        run_dir.mkdir(parents=True)
        try:
            spec = {"data_dir": str(data_dir), "work_dir": str(run_dir / "work"),
                    "partitions": 4, "cores": CORES,
                    "seconds": 0, "min_ops": 0, "inject_fail": False,
                    "expected": {}, "queries": QUERIES, "months": months,
                    "years": sorted({m[:4] for m in months}),
                    "out": str(run_dir / "expected.json")}
            (run_dir / "spec.json").write_text(json.dumps(spec))
            run_jvm("graft.perfbench.Record", run_dir / "spec.json", run_dir, 3000)
            outs.append(json.loads((run_dir / "expected.json").read_text()))
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    a, b = outs
    queries = {k: v for k, v in a["queries"].items() if b["queries"].get(k) == v}
    for k in sorted(set(QUERIES) - set(queries)):
        log(f"dropped {k}: its checksum does not repeat")
    for k, v in a["etl"]["months"].items():
        w = b["etl"]["months"][k]
        if v["rows"] != w["rows"] or abs(v["value_sum"] - w["value_sum"]) > \
                1e-9 * max(1.0, abs(v["value_sum"])):
            raise SystemExit(f"perfbench: month {k} does not repeat")
    if a["etl"]["years"] != b["etl"]["years"]:
        raise SystemExit("perfbench: Recon verdicts do not repeat")
    (HERE / "expected.json").write_text(json.dumps(
        {"queries": queries, "etl": a["etl"]}, indent=1, sort_keys=True) + "\n")
    log(f"expected.json: {len(queries)} queries, {len(months)} months")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-fail", action="store_true",
                    help="make some ops fail, to check they are counted")
    ap.add_argument("--record", action="store_true",
                    help="recompute the stored outputs (expected.json)")
    args = ap.parse_args()
    # on SIGTERM unwind like on Ctrl-C, so child processes are killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not args.record and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    build.build()
    if args.record:
        return record()
    # the time limit counts from here: only a checkout's first run builds
    t_start = time.monotonic()
    data_dir = dataset()
    run_dir = WORK / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        spec_path = run_dir / "spec.json"
        spec_path.write_text(json.dumps(spec_for(args, run_dir, data_dir)))
        left = JVM_TIMEOUT_S - (time.monotonic() - t_start)
        run_jvm("graft.perfbench.Main", spec_path, run_dir, max(30.0, left))
        result = json.loads((run_dir / "result.json").read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted, failed, e2e = stats.end_to_end(result, args.seconds)
    for k, v in result["errors"].items():
        log(f"error {k}: {v}")
    if args.trace:
        metrics = per_layer(args.workload, result, e2e)
        write_trace(args, result)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    log(f"failed share {stats.failed_share(attempted, failed):.4f}")
    correct = failed == 0 and not result["errors"]
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
