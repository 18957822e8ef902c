"""The benchmark's one command.

    python3 perfbench/run.py --workload daily_cron --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. It starts one Spark session on
``local[nproc]`` and one client thread, puts the workload's history in
place, then runs timed cycles (a day lands, is ingested, the closed day
is maintained, a batch of dashboard reads runs) until ``--seconds`` have
passed, at least one. Outputs are then checked against DuckDB
computations over the same drops, outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
package's layers, writes a Spark event log, and prints the per-layer
metrics. The last stdout line is the result object; the full record
(provenance, samples, failures, spans) goes to
``.scratch/perfbench/results/``. Everything the run writes stays under
``.scratch/perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import fcntl
import importlib.util
import json
import os
import platform
import shutil
import socket
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".scratch", "perfbench")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, -(-int(q * 100) * len(s) // 100) - 1)]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate() -> dict[str, str]:
    """Keep Spark's and Python's temporary files inside the checkout."""
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the short-lived JVM that spark-submit starts to build the command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    return {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
    }


def provenance(args, digest: str) -> dict:
    import duckdb
    import pyspark

    commit = ""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": socket.gethostname(), "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__, "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        # a checkout without git history is identified by the digest
        "commit": commit or "unknown",
        "program_digest": digest, "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def end_to_end(setup_s: float, samples: dict, lake_ratio: float) -> dict:
    """The end-to-end metrics of an untraced run: cycle times are
    medians over the run's cycles, the lookup latency is the median of
    its reads."""
    lat = samples["lookup_s"] or [0.0]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "fresh_s": {"value": statistics.median(samples["fresh_s"] or [0.0]), "unit": "s"},
        "maintain_day_s": {"value": statistics.median(samples["maintain_s"] or [0.0]), "unit": "s"},
        "lookup_p50_s": {"value": percentile(lat, 0.5), "unit": "s"},
        "lake_bytes_per_src_byte": {"value": lake_ratio, "unit": "ratio"},
    }


def jvm_peak_rss_mb(sc) -> float:
    """Peak resident memory (VmHWM) of the driver JVM."""
    with open(f"/proc/{sc._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


def build_history(args, conf: dict, cache: str, run_dir: str) -> None:
    import tracing
    import workloads
    from fxa_activity_metrics_spark.session import get_spark

    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = get_spark("perfbench-history", master=f"local[{nproc()}]", extra_conf=conf)
    workloads.WORKLOADS[args.workload](spark, tracing.Tracer(), run_dir, 0).build_history(cache)
    stop_jvm(spark)


def measure(args, conf: dict, cache: str, run_dir: str, log_dir: str | None) -> dict:
    """One run: setup, timed cycles, checks. Returns the run's record."""
    import checks
    import layers
    import tracing
    import workloads
    from fxa_activity_metrics_spark.session import get_spark

    cores = nproc()
    record: dict = {}
    t_setup = time.perf_counter()
    record["history_built"] = not os.path.exists(os.path.join(cache, "DONE"))
    if record["history_built"]:
        # built in a process of its own, so that this run's JVM starts cold
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                        "--seed", "0", "--seconds", "0", "--build-history", cache], check=True)
    t_session = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    session_start_s = time.perf_counter() - t_session
    tracer = tracing.Tracer(detailed=bool(args.trace), sc=spark.sparkContext)
    csv_reads: list = []
    if args.trace:
        layers.instrument(tracer, spark.sparkContext, csv_reads)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    wl = workloads.WORKLOADS[args.workload](spark, tracer, run_dir, args.seed)
    wl.restore_history(cache)
    nxt = wl.next_day()
    setup_s = time.perf_counter() - t_setup

    # -- timed region ------------------------------------------------------
    cycles, failures, attempted = [], [], 0
    t0 = time.perf_counter()
    while True:
        attempted += 1
        try:
            cycles.append(wl.cycle(nxt))
        except Exception as exc:  # a failed cycle is a failed operation
            traceback.print_exc()
            failures.append(f"cycle: {type(exc).__name__}: {exc}")
            break
        if time.perf_counter() - t0 >= args.seconds:
            break
        nxt = wl.next_day()
    timed_s = time.perf_counter() - t0

    # -- checks, outside the timed region ----------------------------------
    n_checked, problems = checks.run(wl, cores)
    attempted += len(wl.lookups) + n_checked
    failures += problems
    peak_rss = jvm_peak_rss_mb(spark.sparkContext)
    rejected = 0
    if args.trace:
        # rows each timed CSV read rejected: lines in the file minus rows kept
        timed = tracing.descendants(tracer.spans, {c["span"]["id"] for c in cycles})
        reads = [s for s in tracer.spans if s["key"] == "csv.read"]
        for (path, df), sp in zip(csv_reads, reads):
            if sp["id"] in timed:
                with open(path) as fh:
                    rejected += sum(1 for _ in fh) - df.count()
    stop_jvm(spark)

    samples = {"fresh_s": [c["fresh_s"] for c in cycles],
               "maintain_s": [c["maintain_s"] for c in cycles],
               "lookup_s": [x["s"] for x in wl.lookups]}
    if args.trace:
        logs = sorted(os.listdir(log_dir))
        jobs = tracing.parse_event_log(os.path.join(log_dir, logs[0])) if logs else []
        extra = {"session_start_s": session_start_s, "jvm_peak_rss_mb": peak_rss,
                 "csv_rows_rejected": rejected,
                 "lookup_rows": sum(x["rows"] for x in wl.lookups),
            "lookup_p90_s": percentile(samples["lookup_s"] or [0.0], 0.9),
                 **layers.stream_extra(wl.stream_progress)}
        timed_spans = [c["span"] for c in cycles] or [{"id": -1, "start": t0, "end": t0}]
        metrics = layers.layer_metrics(tracer.spans, jobs, timed_spans, cores, extra)
        out = {n: {"value": metrics[n], "unit": layers.unit(n)} for n in layers.per_layer_names()}
        layers.annotate_spans(tracer.spans, jobs)
        record["jobs"] = jobs
    else:
        out = end_to_end(setup_s, samples, wl.lake_bytes() / wl.src_bytes)
    record.update({
        "setup_s": setup_s, "session_start_s": session_start_s, "timed_s": timed_s,
        "cycles": len(cycles), "samples": samples, "lookups": wl.lookups,
        "jvm_peak_rss_mb": peak_rss, "stream_progress": wl.stream_progress, "spans": tracer.spans,
        "failures": failures, "attempted": attempted, "metrics": out,
    })
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-history", metavar="CACHE_DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("fxa_activity_metrics_spark") is None:
        sys.path.insert(0, ROOT)
        if importlib.util.find_spec("fxa_activity_metrics_spark") is None:
            print("perfbench: fxa_activity_metrics_spark not found; run from a checkout root",
                  file=sys.stderr)
            return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    conf = isolate()
    digest = workloads.program_digest(ROOT)
    run_dir = os.path.join(SCRATCH, "run", args.workload)
    cache = os.path.join(SCRATCH, "cache", f"{args.workload}-{digest}")
    os.makedirs(os.path.dirname(run_dir), exist_ok=True)
    if args.build_history:
        build_history(args, conf, args.build_history, run_dir)
        return 0

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    log_dir = None
    if args.trace:
        log_dir = os.path.join(SCRATCH, "eventlog", run_id)
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    prov = provenance(args, digest)
    # one run per workload at a time in a checkout: the run directory
    # and the history cache are shared
    with open(run_dir + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        record = {"provenance": prov, **measure(args, conf, cache, run_dir, log_dir)}
    out_dir = os.path.join(SCRATCH, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, default=str)
    for f in record["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"provenance": prov}))
    print(json.dumps({"correct": not record["failures"], "attempted": record["attempted"],
                      "failed": len(record["failures"]), "metrics": record["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
