"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one Spark session
(``local[4]``), one closed-loop client. The run:

1. sets up ``SETUPS`` times (session start, input generation, warm-up)
   and keeps the median as ``setup_s``; the first set-up also pays the
   JVM launch;
2. measures whole passes over the workload's ops for ``--seconds``, at
   least one pass; with ``--trace 1`` the library's layers are traced
   during this phase;
3. times the input load, where it is not among the ops (``driver_panel``);
4. checks the outputs, untimed;
5. prints one JSON line: the end-to-end metrics (``--trace 0``) or the
   per-layer metrics (``--trace 1``). The full record, and the spans of a
   traced run, go to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402

CPUS = 4
SETUPS = 3
DRIVER_MEMORY = "1g"
#: a timed window whose steal share exceeds this is marked invalid
STEAL_LIMIT = 0.05
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_geomean_s": "s", "load_s": "s", "peak_rss_mb": "MiB",
}


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.
    Must run before the JVM launches."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # a fixed-size heap (-Xms = -Xmx) so the JVM's resident memory does not
    # depend on when its heap happened to grow
    java_opts = f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} --driver-java-options "
        f"{shlex.quote(java_opts)} pyspark-shell"
    )
    tempfile.tempdir = tmp


def start_session(work: str):
    from etl_oms_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """One small shuffle job, so a set-up ends with a session that has run
    work. Each op's own first-run costs (class loading, code generation)
    stay in the first pass, as in any fresh session; the panels' fixed
    first-pass order keeps them on the same ops in every run."""
    spark.range(100_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def timed_phase(wl, spark, seconds: float, tracer=None) -> dict:
    """Whole passes for ``seconds``: one pass, then another only while the
    mean pass so far still fits in the time left."""
    samples: dict[str, list[float]] = defaultdict(list)
    loads: list[float] = []  # per pass, the summed latency of its load ops
    attempted: Counter = Counter()
    raised: Counter = Counter()
    passes = 0
    t0 = time.perf_counter()
    while passes == 0 or (time.perf_counter() - t0) * (passes + 1) / passes <= seconds:
        load = 0.0
        for name, kind, fn in wl.pass_ops(passes):
            if tracer is not None:
                tracer.op = name
            attempted[name] += 1
            start = time.perf_counter()
            try:
                if tracer is not None:
                    with tracer.span("op", name):
                        fn(spark, tracer)
                else:
                    fn(spark, None)
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                raised[name] += 1
                log(f"op {name} raised:\n{traceback.format_exc()}")
                continue
            finally:
                if tracer is not None:
                    tracer.conf_check(name)
            samples[name].append(time.perf_counter() - start)
            if kind == "load":
                load += samples[name][-1]
            # drop the op's dead DataFrames now, so the JVM can release their
            # checkpoint and cache blocks before the next op rather than
            # during it
            gc.collect()
        if load:
            loads.append(load)
        passes += 1
    return {"wall": time.perf_counter() - t0, "passes": passes, "samples": dict(samples),
            "loads": loads, "attempted": attempted, "raised": raised}


def measured_phase(wl, spark, seconds: float, tracer=None) -> tuple[dict, dict]:
    """The timed phase under the host-contention gate: the window's steal
    share and the load average at its start are recorded, and a window whose
    steal share is over ``STEAL_LIMIT`` is marked invalid. It is not
    measured again: a second window would double the run's length."""
    host = {"loadavg_1m_start": stats.loadavg_1m()}
    before = stats.cpu_jiffies()
    phase = timed_phase(wl, spark, seconds, tracer)
    host["steal_share"] = stats.steal_share(before, stats.cpu_jiffies())
    host["valid"] = host["steal_share"] <= STEAL_LIMIT
    if not host["valid"]:
        log(f"timed window invalid: steal share {host['steal_share']:.3f} > {STEAL_LIMIT}")
    return phase, host


def end_to_end(phase: dict, setups: list[dict], load_scans: list[float],
               peak_rss: float) -> tuple[dict, dict]:
    """The reported metrics, and beside them the median and tail op
    latency, which go to the record only: a run holds a few samples of
    each op (one pass of 9 panel queries; 3 daily batches), so its median
    is one op's single latency and no percentile has ten samples beyond
    it."""
    all_ops = [x for xs in phase["samples"].values() for x in xs]
    tail_value, tail_pct, n = stats.tail(all_ops)
    loads = phase["loads"] or load_scans
    return {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "wall_s": phase["wall"] / phase["passes"],
        "op_geomean_s": stats.geomean([statistics.median(v) for v in phase["samples"].values()]),
        "load_s": statistics.median(loads),
        "peak_rss_mb": peak_rss,
    }, {"op_p50_s": statistics.median(all_ops), "op_tail_s": tail_value,
        "op_tail_percentile": tail_pct, "op_samples": n}


def layer_metrics(tracer, phase: dict, setups: list[dict], host: dict) -> dict[str, float]:
    """Per-layer numbers from the traced phase, per pass."""
    incl = tracer.inclusive()
    selfs = tracer.self_times()
    passes = phase["passes"]
    out: dict[str, float] = {
        "session.start_s": statistics.median(s["session_s"] for s in setups),
    }

    def total(layer: str, key: str | None = None) -> float:
        spans = tracer.outermost(layer)
        if key is None:
            return sum(s.end - s.start for s in spans) / passes
        return sum(incl[s.id][key] for s in spans) / passes

    def self_total(layer: str) -> float:
        return sum(selfs[s.id] for s in tracer.spans if s.layer == layer) / passes

    op_time = total("op")
    out["entry.construct_s"] = total("entry")
    out["entry.self_s"] = self_total("entry")
    out["entry.construct_jobs"] = total("entry", "jobs")
    out["entry.py4j_calls"] = total("entry", "py4j")
    out["entry.construct_share"] = out["entry.construct_s"] / op_time
    reads = [s for s in tracer.spans if s.layer == "sources" and s.name != "scan_dataset_directory"]
    out["sources.resolve_s"] = total("sources")
    out["sources.resolve_calls"] = len(reads) / passes
    out["sources.resolve_jobs"] = total("sources", "jobs")
    cps = [s for s in tracer.spans if s.layer == "checkpoint"]
    out["checkpoint.count"] = len(cps) / passes
    out["checkpoint.s"] = total("checkpoint")
    out["checkpoint.bytes"] = sum(s.attrs.get("bytes", 0) for s in cps) / passes
    out["exec.s"] = total("exec")
    out["exec.self_s"] = self_total("exec")
    out["exec.share"] = out["exec.s"] / op_time
    for key in ["jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "input_bytes", "executor_cpu_s", "jvm_gc_s"]:
        out[f"exec.{key}"] = total("exec", key)
    for layer in ["reconcile", "transform", "star"]:
        out[f"{layer}.s"] = total(layer)
    merges = tracer.outermost("merge_table")
    out["merge_table.s"] = total("merge_table")
    out["merge_table.jobs"] = total("merge_table", "jobs")
    for key in ["partitions_touched", "files_written", "bytes_written"]:
        out[f"merge_table.{key}"] = sum(s.attrs.get(key, 0) for s in merges) / passes
    written = batch_bytes = 0.0
    for s in merges:
        op = tracer.op_span(s)
        if "batch_keys" in op.attrs:
            written += s.attrs["bytes_written"]
            batch_bytes += op.attrs["batch_keys"] * s.attrs["target_bytes"] / op.attrs["target_keys"]
    out["merge_table.write_amp"] = written / batch_bytes if batch_bytes else 0.0
    out["session.conf_leaks"] = len(tracer.conf_leaks)
    out["jobs.total"] = sum(s.counts["jobs"] for s in tracer.spans) / passes
    # the traced wall_s minus the untraced runs' wall_s is the overhead as a
    # user sees it; the tracer's own bookkeeping is the part measured here
    out["trace.wall_s"] = phase["wall"] / passes
    out["trace.overhead_s"] = tracer.own_s / passes
    out["host.steal_share"] = host["steal_share"]
    out["host.loadavg_1m"] = host["loadavg_1m_start"]
    return out


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    wl = workloads.WORKLOADS[name](seed, work)
    spark = None
    setups = []
    try:
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(work)
            session_s = time.perf_counter() - t0
            wl.generate()
            warm_up(spark)
            setups.append({"setup_s": time.perf_counter() - t0, "session_s": session_s})
        from tracing import Tracer

        tracer = Tracer(spark) if trace else None
        if tracer is not None:
            tracer.conf_baseline()
            tracer.install()
        try:
            phase, host = measured_phase(wl, spark, seconds, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        if tracer is not None:
            tracer.attribute_jobs()
        load_scans = wl.load(spark)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        peak_rss = stats.vm_hwm_mb() + (stats.vm_hwm_mb(jvm.pid) if jvm else 0.0)
        t_check = time.perf_counter()
        problems = wl.check(spark)
        t_check = time.perf_counter() - t_check
    finally:
        stop_session(spark)

    attempted = sum(phase["attempted"].values())
    failed = sum(phase["raised"].values())
    for op, found in problems.items():
        log(f"check failed for {op}: {'; '.join(found)}")
        ops = phase["attempted"] if op == "*" else {op: phase["attempted"][op]}
        failed += sum(n - phase["raised"][o] for o, n in ops.items())
    metrics, extra = end_to_end(phase, setups, load_scans, peak_rss)
    record = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "sizes": wl.sizes(), "host": host, "setups": setups,
        "passes": phase["passes"], "samples": phase["samples"],
        "loads": phase["loads"] or load_scans,
        "attempted": attempted, "failed": failed, "problems": problems,
        "end_to_end": metrics, "check_s": t_check, **extra,
    }
    if tracer is not None:
        record["per_layer"] = layer_metrics(tracer, phase, setups, host)
        record["conf_leaks"] = tracer.conf_leaks
        tracer.dump(os.path.join(ROOT, ".perfbench", "records",
                                 f"{name}-seed{seed}-spans.json"))
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    if not (os.path.isfile("__spark_entry__.py") and os.path.isdir("etl_oms_spark")):
        log("the library (__spark_entry__.py, etl_oms_spark/) is not in this checkout")
        return 2
    sys.path.insert(0, ROOT)
    # relative paths keep the checkout's own location out of the file
    # names the pipelines classify diseases by
    work = os.path.join(".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(".perfbench", "records"), exist_ok=True)
    prepare_environment(os.path.abspath(work))
    try:
        record = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(".perfbench", "records",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)

    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in record["end_to_end"].items()}
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "B"
    if name.endswith(("share", "write_amp")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
