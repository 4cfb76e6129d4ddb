"""Engine benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload payroll_etl --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from the seed (and cached under ``.perfbench/inputs``) before anything
is timed; the engine is driven only through its public modules. With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a run that records spans. The
exit code is non-zero, and nothing is printed on stdout, when the run
cannot be made (for example, the engine package is missing).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

from tracing import COUNTERS, SparkRest, SpanStats, Tracer, median, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit; the same names and units as BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "output_recall": "ratio",
}

COUNTER_UNITS = {"run_ms": "ms", "cpu_ms": "ms", "shuffle_write_bytes": "bytes",
                 "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
                 "task_skew": "ratio"}
# spans whose time is reported as a per-layer metric: metric -> span name
SPAN_TIMES = {
    "io.read_ms": "io.read",
    "io.write_ms": "io.write",
    "pipelines.build_ms": "pipelines.build",
    "plans.optimize_ms": "plans.optimize",
    "validate.check_ms": "validate.check",
    "ext.dedup.minhash_ms": "ext.dedup.minhash",
    "ext.clusters.cc_ms": "ext.clusters.cc",
    "ext.ann_index.search_ms": "ext.ann_index.search",
    "ext.ann_index.add_ms": "ext.ann_index.add",
    "ext.ann_index.delete_ms": "ext.ann_index.delete",
}
PER_LAYER = {
    "session.get_spark_ms": "ms",
    "session.jobs_per_op": "count",
    "session.stages_per_op": "count",
    "session.driver_gap_ms": "ms",
    "session.gc_ms": "ms",
    "io.read_ms": "ms",
    "io.input_bytes": "bytes",
    "io.input_rows": "count",
    "io.write_ms": "ms",
    "io.output_bytes": "bytes",
    "io.output_files": "count",
    "pipelines.build_ms": "ms",
    "plans.optimize_ms": "ms",
    "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "plans.nodes": "count",
    "plans.codegen_fallbacks": "count",
    "validate.check_ms": "ms",
    "validate.rules_failed": "count",
    "ext.textstats.kept_frac": "ratio",
    "ext.dedup.minhash_ms": "ms",
    "ext.dedup.candidate_pairs": "count",
    "ext.dedup.verified_pairs": "count",
    "ext.dedup.pair_precision": "ratio",
    "ext.clusters.cc_ms": "ms",
    "ext.clusters.jobs": "count",
    "cache.storage_peak_bytes": "bytes",
    "cache.persisted_frames": "count",
    "ext.ann_index.build_ms": "ms",
    "ext.ann_index.search_ms": "ms",
    "ext.ann_index.rows_scanned_per_result": "count",
    "ext.ann_index.add_ms": "ms",
    "ext.ann_index.delete_ms": "ms",
    "ext.ann_index.store_files": "count",
    "ext.ann_index.batch_qps": "1/s",
    "ext.ann_index.recall_at_10": "ratio",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.backlog_files": "count",
    "streaming.rows_per_batch": "count",
    "streaming.processed_rows_per_s": "1/s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.generator_lag_ms": "ms",
    "trace.setup_s": "s",
    "trace.op_p50_ms": "ms",
    "trace.spans": "count",
    "op.tail_ms": "ms",
}
SPAN_COUNTER_SPANS = ("op", "io.write", "ext.dedup.minhash", "ext.clusters.cc",
                      "ext.ann_index.search", "ext.ann_index.delete")
for _span in SPAN_COUNTER_SPANS:
    for _c in COUNTERS:
        PER_LAYER[f"{_span}.{_c}"] = COUNTER_UNITS[_c]

DRIVER_MEM = "1g"  # the engine's 16g default exceeds small hosts' RAM
CODEGEN_FAILURE = "Failed to compile the generated Java code"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["payroll_etl", "corpus_curation", "event_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; tiny is for the benchmark's own tests")
    return p.parse_args(argv)


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def layer_metrics(wl, tracer, stats, gc_ms, log_path, get_spark_s) -> dict:
    out = {name: 0.0 for name in PER_LAYER}
    spans = tracer.spans
    selfs = self_times(spans)
    for metric, name in SPAN_TIMES.items():
        out[metric] = 1000 * median(selfs[s.sid] for s in spans if s.name == name)
    ops = [s for s in spans if s.name == "op"]
    if ops:
        out["session.jobs_per_op"] = sum(len(stats.jobs[s.sid]) for s in ops) / len(ops)
        out["session.stages_per_op"] = sum(len(stats.stages[s.sid]) for s in ops) / len(ops)
        out["session.driver_gap_ms"] = median(stats.driver_gap_ms(s) for s in ops)
        out["io.input_bytes"] = median(stats.stage_sum(s.sid, "inputBytes") for s in ops)
        out["io.input_rows"] = median(stats.stage_sum(s.sid, "inputRecords") for s in ops)
    cc = [s for s in spans if s.name == "ext.clusters.cc"]
    out["ext.clusters.jobs"] = median(len(stats.jobs[s.sid]) for s in cc)
    for name in SPAN_COUNTER_SPANS:
        inst = [stats.counters(s) for s in spans if s.name == name]
        for c in COUNTERS:
            out[f"{name}.{c}"] = median(x[c] for x in inst)
    out["session.get_spark_ms"] = 1000 * get_spark_s
    out["session.gc_ms"] = gc_ms
    with open(log_path, errors="replace") as f:
        out["plans.codegen_fallbacks"] = sum(CODEGEN_FAILURE in line for line in f)
    out["trace.spans"] = len(spans)
    out.update(wl.layers(stats))
    return out


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, ROOT)
    try:
        import uofi_payroll_etl_main_demo_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    # generated in a child process, so no run counts the generator's memory
    gen = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload",
                          args.workload, "--seed", str(args.seed), "--size", args.size],
                         stdout=subprocess.PIPE, text=True)
    if gen.returncode != 0:
        print("perfbench: input generation failed", file=sys.stderr)
        return 2
    inputs = gen.stdout.strip().splitlines()[-1]
    with open(os.path.join(inputs, "manifest.json")) as f:
        manifest = json.load(f)

    work = os.path.join(ROOT, ".perfbench", "runs",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit starts first, too
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile
    tempfile.tempdir = tmp

    # The JVM inherits fd 2: its log lands in the run's driver log.
    log_path = os.path.join(work, "driver.log")
    saved_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        result = measure(args, inputs, manifest, work, tmp, nproc, log_path)
    except Exception:
        import traceback

        traceback.print_exc()
        result = None
    finally:
        sys.stderr.flush()
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
    if result is None:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        return 1
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(
            ROOT, ".perfbench", "traces", f"{args.workload}-s{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(args, inputs, manifest, work, tmp, nproc, log_path) -> dict:
    from pyspark import SparkContext

    from uofi_payroll_etl_main_demo_spark.session import get_spark
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{nproc}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # -Xms = the heap limit: no heap growth decided on the fly, so
        # resident memory and GC work repeat from run to run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    })
    get_spark_s = time.perf_counter() - t0
    gateway = SparkContext._gateway
    try:
        sc = spark.sparkContext
        jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        rest = SparkRest(sc) if args.trace else None
        tracer = Tracer(sc, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, inputs, manifest, work)
        if rest is not None:
            tracer.on_exit = lambda s: wl.sample_storage(rest)
        try:
            wl.setup()
            setup_s = time.perf_counter() - t0 - wl.not_setup_s
            gc0 = rest.driver_gc_ms() if rest else 0.0
            wl.run(args.seconds)
            gc_ms = rest.driver_gc_ms() - gc0 if rest else 0.0
        finally:
            wl.close()
        e2e = dict(wl.e2e(), setup_s=setup_s, peak_rss_mb=peak_rss_mb([jvm_pid, "self"]))
        if args.trace:
            stats = SpanStats(tracer.spans, rest)
            metrics = layer_metrics(wl, tracer, stats, gc_ms, log_path, get_spark_s)
            metrics["trace.setup_s"] = e2e["setup_s"]
            metrics["trace.op_p50_ms"] = e2e["op_p50_ms"]
            metrics["op.tail_ms"] = e2e["op_tail_ms"]
            tracer.dump(os.path.join(work, "spans.json"))
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
    finally:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
    bad = [k for k in units if not math.isfinite(float(metrics[k]))]
    if bad:
        raise ValueError(f"non-finite metrics: {bad}")
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
