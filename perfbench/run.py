"""Benchmark entry point.

    python3 perfbench/run.py --workload market_views --seed 1 --seconds 5 --trace 0

Runs one workload (see ``perfbench/workloads.py``) against the engine in
this checkout on ``local[<nproc>]``: generates its inputs from
``--seed``, times session set-up several times (each ending in the
workload's first result), then, on the last session, runs one untimed
warm-up pass over the query set and measures whole closed-loop passes
for at least ``--seconds``, checks every output, and prints two JSON
lines on stdout: a detail report (every metric with its unit and sample
count, plus the machine facts), then the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1`` the
same warm-up and measurement are repeated in a new session (same JVM)
with Spark's event log and the span wrappers on, and the result line
carries the per-layer metrics and the tracing overhead instead of the
end-to-end ones.

All files (inputs, stores, Spark local dirs, event logs) live in a
per-run directory under ``.perfbench_tmp/`` in the checkout and are
removed at exit; ``--out DIR`` keeps the spans and the report.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_TRIALS = 3
# Per-layer metrics on the result line of a traced run; the ingest-only
# layers are added for curation_ingest.
LAYERS = (
    "session.start_s", "catalog.load_s", "catalog.scan_bytes",
    "catalog.scan_records", "queries.build_s", "queries.build_jobs", "plan.s",
    "exec.s", "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms",
    "exec.max_task_ms", "exec.core_busy_frac", "exec.python_ms",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "cache.leaked_rdds", "cache.checkpoint_rdds", "jit.cpu_s", "trace.overhead_frac",
)
LAYERS_INGEST = (
    "incremental_dedup.upsert_batch_s", "incremental_dedup.incremental_pairs_s",
    "curation_stream.process_batch_s", "curation_stream.compact_s",
    "curation_stream.clean_s", "curation_stream.store_files",
    "curation_stream.auto_compactions", "txn_sink.upsert_s", "txn_sink.read_s",
    "txn_sink.commit_retries", "txn_sink.files_written", "txn_sink.bytes_written",
)
ENGINE_FILES = (
    os.path.join("crypto_market_tracker_etl_spark", "session.py"),
    os.path.join("tools", "driver_sim.py"),
)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="directory to keep spans.json and report.json")
    return p.parse_args(argv)


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "events"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(runner, conf: dict[str, str]) -> float:
    from crypto_market_tracker_etl_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session(app_name=f"perfbench-{runner.wl.name}", extra_conf=conf)
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    runner.spark = spark
    return elapsed


def shutdown(runner) -> None:
    """Stop the session and the gateway JVM, and wait for every process
    this run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    if runner.spark is not None:
        runner.spark.stop()
        runner.spark = None
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    from perfbench.trace import tree_rss_bytes

    deadline = time.time() + 30
    while tree_rss_bytes(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def measure(runner, wl, seconds: float):
    """One measured window with its output checks (mismatches fail ops)."""
    from perfbench import checks, workloads

    if wl.name == "curation_ingest":
        rec, (script, stream, sink, _store) = runner.run_ingest(seconds)
        with runner.tracer.paused():
            bad = checks.ingest_mismatches(runner.spark, script, stream, sink)
    else:
        names = (
            workloads.MARKET_QUERIES
            if wl.name == "market_views"
            else workloads.CURATION_QUERIES
        )
        rec, results = runner.run_queries(names, seconds)
        bad = checks.oracle_mismatches(ROOT, runner.data_dir, wl.tables, results)
    for b in bad:
        rec.fail(b)
    return rec


def e2e_metrics(wl, setup: list[float], rec, peak_rss: int) -> dict:
    """The end-to-end report: every metric with its unit and sample count."""
    from perfbench.stats import summarize

    m: dict = {}

    def put(name, value, unit, n):
        m[name] = {"value": value, "unit": unit, "n": n}

    put("setup_s", statistics.median(setup), "s", len(setup))
    for k, lat in rec.op_lat.items():
        s = summarize(lat)
        put(f"{k}_p50_s", s["p50"], "s", s["n"])
        if s["tail"] is not None:
            put(f"{k}_p{s['tail_pct']}_s", s["tail"], "s", s["n"])
    put("pass_s", statistics.median(rec.pass_s), "s", len(rec.pass_s))
    put("pass_cpu_s", statistics.median(rec.pass_cpu_s), "s", len(rec.pass_cpu_s))
    if rec.pass_jit_s:
        put("pass_jit_cpu_s", statistics.median(rec.pass_jit_s), "s", len(rec.pass_jit_s))
    if wl.name == "curation_ingest":
        x = rec.extra
        put(
            "ingest_docs_per_s",
            x["docs_per_pass"] / statistics.median(rec.pass_s), "1/s", len(rec.pass_s),
        )
        put("store_bytes_per_input_byte", x["store_bytes"] / x["in_bytes"], "ratio", 1)
    put("peak_rss_mb", peak_rss / 2**20, "MB", 1)
    put("checkpoint_rdds", rec.checkpoint_rdds, "count", rec.attempted)
    put("failed_frac", rec.failed / max(rec.attempted, 1), "ratio", rec.attempted)
    return m


def layer_metrics(
    ev_dir: str, spans: list, rec, untraced_rec, start_s: list[float], ncpu: int
) -> tuple[dict, dict]:
    """Per-layer metrics of the traced window, per measured pass, and a
    per-span-name table (count, inclusive and self seconds, task metrics)."""
    from perfbench.trace import StageAgg, parse_event_log, self_times, span_of_group

    aggs: dict = {}
    for name in sorted(os.listdir(ev_dir)):
        with open(os.path.join(ev_dir, name)) as f:
            aggs.update(parse_event_log(f))
    by_id = {s.sid: s for s in spans}
    selfs = self_times(spans)

    def under(sid, name):
        while sid is not None:
            if by_id[sid].name == name:
                return True
            sid = by_id[sid].parent
        return False

    per_span: dict[int, StageAgg] = {}
    total = StageAgg()
    for gid, agg in aggs.items():
        sid = span_of_group(gid)
        if sid is not None and sid in by_id:
            per_span[sid] = agg
            total.add(agg)
    passes = max(len(rec.pass_s), 1)
    wall_s = sum(rec.pass_s)  # the measured passes, without the warm-up

    def span_s(name):
        return sum(s.dur for s in spans if s.name == name) / passes

    def count(name):
        return sum(1 for s in spans if s.name == name)

    build_jobs = sum(a.jobs for sid, a in per_span.items() if under(sid, "queries.build"))
    x = rec.extra
    m = {
        "session.start_s": (statistics.median(start_s), "s"),
        "catalog.load_s": (span_s("catalog.load"), "s"),
        "catalog.scan_bytes": (total.input_bytes / passes, "bytes"),
        "catalog.scan_records": (total.input_records / passes, "count"),
        "queries.build_s": (span_s("queries.build"), "s"),
        "queries.build_jobs": (build_jobs / passes, "count"),
        "plan.s": (span_s("plan"), "s"),
        "exec.s": (span_s("exec"), "s"),
        "exec.task_run_ms": (total.run_ms / passes, "ms"),
        "exec.task_cpu_ms": (total.cpu_ms / passes, "ms"),
        "exec.gc_ms": (total.gc_ms / passes, "ms"),
        "exec.max_task_ms": (total.max_task_ms, "ms"),
        "exec.core_busy_frac": (total.run_ms / (wall_s * 1000.0 * ncpu), "ratio"),
        "exec.python_ms": (total.python_ms / passes, "ms"),
        "exec.shuffle_read_bytes": (total.shuffle_read_bytes / passes, "bytes"),
        "exec.shuffle_write_bytes": (total.shuffle_write_bytes / passes, "bytes"),
        "exec.spill_bytes": (total.spill_bytes / passes, "bytes"),
        "cache.leaked_rdds": (max(rec.leaked_rdds, untraced_rec.leaked_rdds), "count"),
        "cache.checkpoint_rdds": (
            max(rec.checkpoint_rdds, untraced_rec.checkpoint_rdds), "count",
        ),
        "incremental_dedup.upsert_batch_s": (span_s("incremental_dedup.upsert_batch"), "s"),
        "incremental_dedup.incremental_pairs_s": (
            span_s("incremental_dedup.incremental_pairs"), "s",
        ),
        "curation_stream.process_batch_s": (span_s("curation_stream.process_batch"), "s"),
        "curation_stream.compact_s": (span_s("curation_stream.compact"), "s"),
        "curation_stream.clean_s": (span_s("curation_stream.clean"), "s"),
        "curation_stream.store_files": (x.get("store_files", 0), "count"),
        "curation_stream.auto_compactions": (x.get("auto_compactions", 0), "count"),
        "txn_sink.upsert_s": (span_s("txn_sink.upsert"), "s"),
        "txn_sink.read_s": (span_s("txn_sink.read"), "s"),
        "txn_sink.commit_retries": (
            (count("txn_sink.commit") - count("txn_sink.upsert")) / passes, "count",
        ),
        "txn_sink.files_written": (x.get("sink_files", 0), "count"),
        "txn_sink.bytes_written": (x.get("sink_bytes", 0), "bytes"),
        "jit.cpu_s": (statistics.median(rec.pass_jit_s), "s") if rec.pass_jit_s else (0.0, "s"),
        # CPU time, not wall time: the traced window runs later in the
        # same JVM, and its wall time is shorter by the JIT's progress
        "trace.overhead_frac": (
            statistics.median(rec.pass_cpu_s) / statistics.median(untraced_rec.pass_cpu_s)
            - 1.0,
            "ratio",
        ),
    }
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(
            s.name, {"n": 0, "incl_s": 0.0, "self_s": 0.0, "jobs": 0, "tasks": 0,
                     "task_run_ms": 0.0, "task_cpu_ms": 0.0, "python_ms": 0.0}
        )
        row["n"] += 1
        row["incl_s"] += s.dur
        row["self_s"] += selfs[s.sid]
        a = per_span.get(s.sid)
        if a is not None:
            row["jobs"] += a.jobs
            row["tasks"] += a.tasks
            row["task_run_ms"] += a.run_ms
            row["task_cpu_ms"] += a.cpu_ms
            row["python_ms"] += a.python_ms
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, table


def run(args, run_dir: str) -> tuple[dict, dict]:
    import pyspark

    from perfbench import gen, workloads
    from perfbench.trace import RssSampler, Tracer, layer_spans

    wl = workloads.WORKLOADS[args.workload]
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    data_dir = os.path.join(run_dir, "data")
    gen.write_tables(gen.star_tables(args.seed, wl.sf, wl.tables), data_dir)
    log(f"{wl.name}: inputs generated (sf {wl.sf}, seed {args.seed})")

    runner = workloads.Runner(wl, args.seed, data_dir, os.path.join(run_dir, "stores"))
    report: dict = {"workload": wl.name, "why": wl.why, "seed": args.seed}
    try:
        with RssSampler() as rss:
            start_s, setup = [], []
            for i in range(SETUP_TRIALS):
                if i:
                    runner.spark.stop()
                t0 = time.perf_counter()
                start_s.append(start_session(runner, session_conf(run_dir, False)))
                runner.first_result()
                setup.append(time.perf_counter() - t0)
            report["machine"] = {
                "nproc": ncpu,
                "pyspark": pyspark.__version__,
                "java": runner.spark.sparkContext._jvm.java.lang.System.getProperty(
                    "java.version"
                ),
                "python": platform.python_version(),
                "sf": wl.sf,
                "seconds": args.seconds,
            }
            log(f"set-up trials {[round(x, 2) for x in setup]}")
            rss.reset()
            rec = measure(runner, wl, args.seconds)
            log(f"measured {len(rec.pass_s)} passes, {rec.failed} failed: "
                f"wall {[round(x, 2) for x in rec.pass_s]} "
                f"cpu {[round(x, 2) for x in rec.pass_cpu_s]} "
                f"jit {[round(x, 2) for x in rec.pass_jit_s]}")
            peak = rss.peak
        report["setup_first_s"] = setup[0]
        report["e2e"] = e2e_metrics(wl, setup, rec, peak)
        report["errors"] = rec.errors[:20]
        report["per_query_s"] = {k: statistics.median(v) for k, v in sorted(rec.per_op.items())}
        if args.trace:
            # the traced window repeats the untraced one in a new session
            # with the event log on (same JVM): one untimed first result,
            # then the same warm-up and measured passes
            runner.spark.stop()
            start_session(runner, session_conf(run_dir, True))
            runner.first_result()
            runner.tracer = Tracer(runner.spark.sparkContext, wl.name)
            with layer_spans(runner.tracer):
                trec = measure(runner, wl, args.seconds)
            log(f"traced {len(trec.pass_s)} passes")
            runner.spark.stop()  # flushes the event log
            runner.spark = None
            layers, table = layer_metrics(
                os.path.join(run_dir, "events"), runner.tracer.spans, trec, rec,
                start_s, ncpu,
            )
            report["layers"] = layers
            report["spans"] = table
            report["errors"] += trec.errors[:20]
            rec.attempted += trec.attempted
            rec.failed += trec.failed
        if args.out:
            os.makedirs(args.out, exist_ok=True)
            runner.tracer.dump(os.path.join(args.out, "spans.json"))
            with open(os.path.join(args.out, "report.json"), "w") as f:
                json.dump(report, f, indent=1)
    finally:
        shutdown(runner)
    if args.trace:
        names = LAYERS + (LAYERS_INGEST if wl.name == "curation_ingest" else ())
        metrics = {k: report["layers"][k] for k in names}
    else:
        # a pass as CPU time (JIT compiler threads left out, see
        # trace.tree_cpu_s): on a shared host its wall time, and the
        # wall-clock query latencies, also carry the hypervisor's stolen
        # time and moved twice as far in contended episodes; they stay in
        # the detail report
        metrics = {k: report["e2e"][k] for k in ("setup_s", "pass_cpu_s")}
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine files not found: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # Python workers import the engine from this checkout, wherever the
    # benchmark was launched from.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    # stdout carries only the result: until it is printed, everything this
    # process and its children write to fd 1 goes to stderr instead.
    sys.stdout.flush()
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        report, result = run(args, run_dir)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
