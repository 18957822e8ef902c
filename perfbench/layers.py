"""Per-layer instrumentation for the traced run, and the per-layer metrics.

``instrument`` wraps public functions of the package's layers from
outside; ``layer_metrics`` folds the recorded spans and the jobs of the
Spark event log into the per-layer metrics BENCHMARK.json names. Time
metrics sum the outermost call of each layer (a layer calling itself is
counted once); every value is per timed cycle.
"""

from __future__ import annotations

import os

import tracing as tr

PACKAGE = "fxa_activity_metrics_spark"
DATASETS = ("activity_events", "flow_events", "email_events")
VARIANTS = ("_sampled_10", "_sampled_50", "full")
STEPS = ("ingest", "maintain", "lookup")  # the timed steps with Spark work


def _public_functions(mod):
    return [n for n, v in vars(mod).items()
            if callable(v) and not n.startswith("_") and getattr(v, "__module__", None) == mod.__name__
            and not isinstance(v, type)]


def _dir_files(path: str) -> list[tuple[str, int, float]]:
    out = []
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out.append((os.path.join(dirpath, f), st.st_size, st.st_mtime))
    return out


def instrument(tracer: tr.Tracer, sc, csv_reads: list) -> None:
    """Wrap the layers' public functions (traced run only)."""
    from fxa_activity_metrics_spark import cacheutil
    from fxa_activity_metrics_spark.operators import activity, counts, email, flows, summaries
    from fxa_activity_metrics_spark.plans import incremental
    from fxa_activity_metrics_spark.sources import csv, lake

    tr.count_py4j(tracer, sc)

    # sources.csv: remember each returned frame to count rejected rows
    # after the timed region
    def on_csv(sp, args, kwargs, call):
        out = call()
        csv_reads.append((args[1] if len(args) > 1 else kwargs["path"], out))
        return out

    tr.wrap_function(tracer, csv, "read_day_csv", "csv.read", PACKAGE, on_csv)

    # plans.incremental
    tr.wrap_method(tracer, incremental.ImportJob, "import_day",
                   lambda job, *a, **k: f"incremental.import_day.{job.dataset.name}")
    tr.wrap_method(tracer, incremental.ImportJob, "expire", "incremental.expire")
    tr.wrap_method(tracer, incremental.ImportJob, "maintain", "incremental.maintain")
    tr.wrap_function(tracer, incremental, "flow_after_day",
                     lambda job, day, raw, suffix, pct: f"incremental.flow_after_day.{suffix or 'full'}",
                     PACKAGE)
    for name, key in (("run_counts_import", "incremental.counts"),
                      ("summarize_daily", "incremental.summarize_daily"),
                      ("discover_source_days", "incremental.discover")):
        tr.wrap_function(tracer, incremental, name, key, PACKAGE)

    # operators: the lazy plan builders of the pipeline's datasets
    for mod in (activity, counts, email, flows, summaries):
        for name in _public_functions(mod):
            tr.wrap_function(tracer, mod, name, f"operators.{mod.__name__.rsplit('.', 1)[1]}.{name}",
                             PACKAGE)

    # sources.lake
    L = lake.Lake

    def on_write(sp, args, kwargs, call):
        self, table = args[0], args[1]
        out = call()
        new = [f for f in _dir_files(self.path(table)) if f[2] >= sp["start"]]
        sp["files"] = len(new)
        sp["bytes"] = sum(f[1] for f in new)
        return out

    for name in ("write_parts", "overwrite"):
        tr.wrap_method(tracer, L, name, "lake.write", on_write)
    for name in ("write_days", "merge_replace", "delete_where", "compact"):
        tr.wrap_method(tracer, L, name, "lake.write")
    for name in ("read", "read_days"):
        tr.wrap_method(tracer, L, name, "lake.read")

    def on_maintain(sp, args, kwargs, call):
        self, table = args[0], args[1]
        out = call()
        sp["partitions"] = len(out)
        sp["bytes"] = sum(f[1] for d in out
                          for f in _dir_files(os.path.join(self.path(table), f"day={d}")))
        return out

    tr.wrap_method(tracer, L, "maintain", "lake.maintain", on_maintain)

    # cacheutil: time and count the frames each release drops
    def on_exit(sp, args, kwargs, call):
        s = args[0]._scope
        sp["frames"] = len(s.frames) + sum(len(ids) for _, ids in s.ckpts)
        return call()

    tr.wrap_method(tracer, cacheutil.scope, "__exit__", "cacheutil.release", on_exit)

    def on_release_all(sp, args, kwargs, call):
        sp["frames"] = call()
        return sp["frames"]

    tr.wrap_function(tracer, cacheutil, "release_all", "cacheutil.release", PACKAGE, on_release_all)

    def on_release_frame(sp, args, kwargs, call):
        sp["frames"] = 1
        return call()

    tr.wrap_function(tracer, cacheutil, "release_frame", "cacheutil.release", PACKAGE,
                     on_release_frame)


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = ["session.start_s", "csv.read_s", "csv.calls", "csv.rows_rejected"]
    names += [f"incremental.import_day_s.{d}" for d in DATASETS]
    names += [f"incremental.flow_after_day_s.{v}" for v in VARIANTS]
    names += ["incremental.counts_s", "incremental.summarize_daily_s", "incremental.discover_s",
              "incremental.expire_s", "incremental.maintain_s", "operators.plan_s",
              "lake.write_s", "lake.write_calls", "lake.files_written", "lake.bytes_written",
              "lake.maintain_s", "lake.partitions_clustered", "lake.bytes_rewritten",
              "lake.read_s", "lake.lookup_p90_s", "lake.lookup_rows_read_per_hit",
              "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_s",
              "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.busy_ratio",
              "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.input_bytes",
              "spark.output_bytes"]
    names += [f"spark.jobs.{s}" for s in STEPS]
    names += ["driver.gap_s", "driver.py4j_calls", "driver.jvm_peak_rss_mb", "cacheutil.release_s",
              "cacheutil.frames_released", "stream.start_s", "stream.batches", "stream.trigger_s",
              "stream.add_batch_s", "stream.rows_in", "stream.state_rows",
              "trace.cycle_s", "trace.remainder_s", "trace.spans"]
    return names


def stream_extra(stream_progress: list[dict]) -> dict:
    """Stream counters from ``StreamingQuery.recentProgress`` of every
    timed stream run: batches with input, trigger and addBatch time,
    input rows, and the state rows each stream held at its end."""
    progress = [p for s in stream_progress for p in s["progress"]]
    return {
        "stream_batches": sum(1 for p in progress if p["numInputRows"] > 0),
        "stream_trigger_s": sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1e3,
        "stream_add_batch_s": sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3,
        "stream_rows_in": sum(p["numInputRows"] for p in progress),
        "stream_state_rows": sum(op.get("numRowsTotal", 0)
                                 for s in stream_progress if s["progress"]
                                 for op in s["progress"][-1].get("stateOperators", [])),
    }


def annotate_spans(spans: list[dict], jobs: list[dict]) -> None:
    """Add each span's self time and the Spark cost of the jobs it
    submitted itself (``layer_metrics`` attributed them)."""
    self_t = tr.self_times(spans)
    for sp in spans:
        own = [j for j in jobs if j.get("span") == sp["id"]]
        sp["self_s"] = self_t[sp["id"]]
        sp["spark"] = {"jobs": len(own), "tasks": sum(j["tasks"] for j in own),
                       "job_wall_s": sum(j["end"] - j["start"] for j in own),
                       "executor_run_s": sum(j["run_s"] for j in own)}


def unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name in ("spark.busy_ratio", "lake.lookup_rows_read_per_hit"):
        return "ratio"
    if name.endswith("bytes") or "bytes_" in name:
        return "B"
    if name.endswith("_s") or "_s." in name:
        return "s"
    return "count"


def layer_metrics(spans: list[dict], jobs: list[dict], cycles: list[dict], cores: int,
                  extra: dict) -> dict[str, float]:
    """Per-layer metrics of the timed region (the ``cycles`` spans and
    everything below them), divided by the number of cycles. ``extra``
    carries what was measured outside spans: session start, rejected
    CSV rows, rows returned by lookups, stream progress."""
    n = max(1, len(cycles))
    within = tr.descendants(spans, {c["id"] for c in cycles})
    lo, hi = min(c["start"] for c in cycles), max(c["end"] for c in cycles)
    inside = [s for s in spans if s["id"] in within]
    m: dict[str, float] = {}

    def t(pred) -> tuple[float, int]:
        return tr.outermost_time(spans, pred, within)

    def summed(key: str, field: str) -> float:
        return sum(s.get(field, 0) for s in inside if s["key"] == key)

    m["session.start_s"] = extra["session_start_s"]
    m["csv.read_s"], calls = t(lambda k: k == "csv.read")
    m["csv.calls"] = calls
    m["csv.rows_rejected"] = extra.get("csv_rows_rejected", 0)
    for d in DATASETS:
        m[f"incremental.import_day_s.{d}"] = t(lambda k: k == f"incremental.import_day.{d}")[0]
    for v in VARIANTS:
        m[f"incremental.flow_after_day_s.{v}"] = t(lambda k: k == f"incremental.flow_after_day.{v}")[0]
    for name in ("counts", "summarize_daily", "discover", "expire", "maintain"):
        m[f"incremental.{name}_s"] = t(lambda k: k == f"incremental.{name}")[0]
    m["operators.plan_s"] = t(lambda k: k.startswith("operators."))[0]
    m["lake.write_s"], m["lake.write_calls"] = t(lambda k: k == "lake.write")
    m["lake.files_written"] = summed("lake.write", "files")
    m["lake.bytes_written"] = summed("lake.write", "bytes")
    m["lake.maintain_s"] = t(lambda k: k == "lake.maintain")[0]
    m["lake.partitions_clustered"] = summed("lake.maintain", "partitions")
    m["lake.bytes_rewritten"] = summed("lake.maintain", "bytes")
    m["lake.read_s"] = t(lambda k: k == "lake.read")[0]
    m["lake.lookup_p90_s"] = extra.get("lookup_p90_s", 0.0)

    tr.attribute_jobs(spans, jobs)
    mine = [j for j in jobs if j["span"] in within]
    m["spark.jobs"] = len(mine)
    m["spark.stages"] = sum(j["stages"] for j in mine)
    m["spark.tasks"] = sum(j["tasks"] for j in mine)
    job_wall = tr.union_length([(j["start"], j["end"]) for j in mine], lo, hi)
    m["spark.job_wall_s"] = job_wall
    m["spark.executor_run_s"] = sum(j["run_s"] for j in mine)
    m["spark.executor_cpu_s"] = sum(j["cpu_s"] for j in mine)
    m["spark.gc_s"] = sum(j["gc_s"] for j in mine)
    m["spark.busy_ratio"] = m["spark.executor_run_s"] / (job_wall * cores) if job_wall else 0.0
    for f in ("shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "output_bytes"):
        m[f"spark.{f}"] = sum(j[f] for j in mine)
    step_ids = {}
    for step in STEPS:
        step_ids[step] = tr.descendants(spans, {s["id"] for s in inside if s["key"] == f"step.{step}"})
        m[f"spark.jobs.{step}"] = sum(1 for j in mine if j["span"] in step_ids[step])
    read = sum(j["input_records"] for j in mine if j["span"] in step_ids["lookup"])
    m["lake.lookup_rows_read_per_hit"] = read / max(1, extra.get("lookup_rows", 0))

    wall = sum(c["end"] - c["start"] for c in cycles)
    m["driver.gap_s"] = wall - job_wall
    m["driver.py4j_calls"] = sum(s["py4j"] for s in inside)
    m["driver.jvm_peak_rss_mb"] = extra.get("jvm_peak_rss_mb", 0.0)
    m["cacheutil.release_s"] = t(lambda k: k == "cacheutil.release")[0]
    m["cacheutil.frames_released"] = summed("cacheutil.release", "frames")
    m["stream.start_s"] = t(lambda k: k.startswith("stream.start."))[0]
    for k in ("batches", "trigger_s", "add_batch_s", "rows_in", "state_rows"):
        m[f"stream.{k}"] = extra.get(f"stream_{k}", 0)
    top = [(s["start"], s["end"]) for s in inside if s["parent"] in {c["id"] for c in cycles}]
    m["trace.cycle_s"] = wall
    m["trace.remainder_s"] = wall - sum(tr.union_length(top, c["start"], c["end"]) for c in cycles)
    m["trace.spans"] = len(inside)
    per_cycle = {k: v / n for k, v in m.items()
                 if k not in ("session.start_s", "spark.busy_ratio", "lake.lookup_rows_read_per_hit",
                              "lake.lookup_p90_s", "driver.jvm_peak_rss_mb")}
    m.update(per_cycle)
    return m
