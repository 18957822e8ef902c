"""The two workloads: one day's cron run through the batch pipeline, and
one day's drop through the streaming imports.

Both run the same closed-loop cycle from one client thread: a day's
drop lands, is ingested, the day that has just closed is maintained,
and a fixed batch of dashboard reads runs against the lake. They differ
in the ingest path:

- ``daily_cron``: the reference's ``make import`` cadence. The batch
  ``ImportJob.run`` for activity, flow and email, ``run_counts_import``
  and ``summarize_daily`` per sampled variant, then
  ``ImportJob.maintain`` per dataset. CSV parsing, the per-day flow
  hooks, the lake writes and the z-order rewrite of the closed day do
  their work here, and the history probes (``_touched_export_dates``)
  scan the lake.
- ``stream_drops``: the streaming twin. Each landing is followed by
  availableNow runs of ``run_dataset_import_stream`` (activity and
  email), ``run_flow_sessions_stream`` and ``run_daily_counts_stream``;
  maintenance clusters the stream-built activity and email days.
  ``streaming/`` and the ``cacheutil`` scopes of its sinks do their
  work here.

Each workload starts from a one-day history (day 0, from a fixed seed)
that the workload itself built with the same program. It is built once
per checkout and program version, in a process of its own, kept under
``.scratch/``, and copied into place before each run: like the
reference's one container per day, every timed day starts in a cold
JVM with yesterday already in the lake.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
import json
import os
import random
import shutil

import expect
import gen

HISTORY_SEED = 20240301
# 100 reads per cycle, so that ten lie beyond the 90th percentile
LOOKUPS = {"uid": 40, "flow_id": 40, "range": 20}
STREAM_TIMEOUT_S = 150


def program_digest(root: str) -> str:
    """Digest of the program and of the benchmark code that builds the
    history: a change to either rebuilds the cached history."""
    h = hashlib.sha256()
    here = os.path.dirname(os.path.abspath(__file__))
    paths = [os.path.join(here, f) for f in ("gen.py", "workloads.py")]
    for dirpath, dirnames, files in os.walk(os.path.join(root, "fxa_activity_metrics_spark")):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        paths += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def land(files: dict[str, str], dest: dict[str, str]) -> int:
    """Move generated day files into their watched directories, mtime
    kept (file streams order by it); returns the bytes landed."""
    n = 0
    for prefix, path in files.items():
        if prefix not in dest:
            continue
        os.makedirs(dest[prefix], exist_ok=True)
        target = os.path.join(dest[prefix], os.path.basename(path))
        shutil.copy2(path, target + ".tmp")
        os.replace(target + ".tmp", target)
        n += os.path.getsize(target)
    return n


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


class Workload:
    """Shared cycle: land, ingest, maintain, read."""

    name = ""
    lookup_tables = {}  # kind -> lake table

    def __init__(self, spark, tracer, run_dir: str, seed: int):
        from fxa_activity_metrics_spark.sources.lake import Lake

        self.spark, self.tracer, self.run_dir, self.seed = spark, tracer, run_dir, seed
        self.lake_dir = os.path.join(run_dir, "lake")
        self.lake = Lake(spark, self.lake_dir)
        self.drops = gen.Drops(os.path.join(run_dir, "generated"))
        self.rng = random.Random(seed)
        self.lookups: list[dict] = []
        self.src_bytes = 0
        self.stream_progress: list[dict] = []

    # -- history ---------------------------------------------------------

    def build_history(self, cache: str) -> None:
        """Import day 0 into an empty lake and keep the run directory
        (lake, landed drops, stream checkpoints) as the cache."""
        files = self.drops.next_day(HISTORY_SEED)
        land(files, self.watched())
        self.ingest(self.drops.days[-1])
        parent = os.path.dirname(cache)
        for old in os.listdir(parent) if os.path.isdir(parent) else []:
            if old.startswith(f"{self.name}-"):
                shutil.rmtree(os.path.join(parent, old), ignore_errors=True)
        shutil.copytree(self.run_dir, cache, ignore=shutil.ignore_patterns("generated"))
        open(os.path.join(cache, "DONE"), "w").close()

    def restore_history(self, cache: str) -> None:
        """Copy the cached day-0 state into place. The day-0 files are
        generated again (cheap) so that day 1's spill-over and continued
        flows follow on from the cached lake."""
        self.drops.next_day(HISTORY_SEED)
        for entry in os.listdir(cache):
            if entry != "DONE":
                shutil.copytree(os.path.join(cache, entry), os.path.join(self.run_dir, entry))
        self.src_bytes += sum(dir_bytes(d) for d in set(self.watched().values()))

    # -- the timed cycle ---------------------------------------------------

    def next_day(self) -> dict:
        """Generate the next timed day and plan its reads (untimed)."""
        files = self.drops.next_day(self.seed)
        return {"day": self.drops.days[-1], "files": files, "reads": self.plan_reads()}

    def cycle(self, nxt: dict) -> dict:
        """One timed cycle; returns the wall seconds of each step."""
        out = {}
        with self.tracer.span("cycle", request=str(nxt["day"])) as cyc:
            with self.tracer.span("step.land"):
                self.src_bytes += land(nxt["files"], self.watched())
            with self.tracer.span("step.ingest") as sp:
                self.ingest(nxt["day"])
            out["fresh_s"] = sp["end"] - sp["start"]
            with self.tracer.span("step.maintain") as sp:
                self.maintain(nxt["day"])
            out["maintain_s"] = sp["end"] - sp["start"]
            with self.tracer.span("step.lookup"):
                self.read(nxt["reads"])
        out["span"] = cyc
        return out

    def plan_reads(self) -> list[tuple[str, object]]:
        """The fixed dashboard batch, in a seeded order: uids drawn by
        popularity, flow_ids of flows begun so far, day ranges."""
        import numpy as np

        rng_np = np.random.default_rng([self.seed, len(self.drops.days)])
        uids = [self.drops.pop.uids[i] for i in self.drops.pop.draw(rng_np, LOOKUPS["uid"])]
        begun = []
        for d in self.drops.days:
            with open(os.path.join(self.drops.out_dir, f"flow_events-{d}.csv")) as fh:
                begun += [ln.split(",")[2] for ln in fh if ",flow.begin," in ln]
        flow_ids = self.rng.sample(sorted(begun), LOOKUPS["flow_id"])
        n_days = len(self.drops.days)
        ranges = []
        for _ in range(LOOKUPS["range"]):
            a = self.rng.randrange(n_days)
            b = self.rng.randrange(a, n_days)
            ranges.append((gen.day_of(a), gen.day_of(b)))
        reqs = ([("uid", v) for v in uids] + [("flow_id", v) for v in flow_ids]
                + [("range", r) for r in ranges])
        self.rng.shuffle(reqs)
        return reqs

    def read(self, reqs: list[tuple[str, object]]) -> None:
        from pyspark.sql import functions as F

        for kind, value in reqs:
            table = self.lookup_tables[kind]
            with self.tracer.span(f"lookup.{kind}", request=str(value)) as sp:
                if kind == "range":
                    rows = self.lake.read_days(table, value[0], value[1]).collect()
                else:
                    rows = self.lake.read(table).filter(F.col(kind) == value).collect()
            self.lookups.append({"kind": kind, "table": table, "value": value,
                                 "rows": len(rows), "s": sp["end"] - sp["start"]})

    def lake_bytes(self) -> int:
        return dir_bytes(self.lake_dir)


class DailyCron(Workload):
    name = "daily_cron"
    expected_tables = staticmethod(expect.batch_tables)
    lookup_tables = {"uid": "activity_events", "flow_id": "flow_metadata",
                     "range": "daily_multi_device_users"}

    def watched(self) -> dict[str, str]:
        src = os.path.join(self.run_dir, "src")
        return {p: src for p in ("activity_events", "flow_events", "email_events",
                                 "fxa-basic-metrics")}

    def _jobs(self, detached: bool):
        from fxa_activity_metrics_spark.plans import incremental
        from fxa_activity_metrics_spark.schemas import ACTIVITY, EMAIL, FLOW

        src = os.path.join(self.run_dir, "src")
        out = []
        for ds in (ACTIVITY, FLOW, EMAIL):
            if detached:
                # z-order detached from the import so that maintenance is
                # its own step (ImportJob.run clusters inline otherwise)
                ds = dataclasses.replace(ds, zorder_cols=None)
            flow = ds.name == "flow_events"
            out.append(incremental.ImportJob(
                spark=self.spark, lake=self.lake, dataset=ds, source_dir=src,
                write_perm=not flow, after_day=incremental.flow_after_day if flow else None))
        return out

    def ingest(self, day: dt.date) -> None:
        from fxa_activity_metrics_spark.plans import incremental
        from fxa_activity_metrics_spark.schemas import SAMPLE_RATES

        for job in self._jobs(detached=True):
            with self.tracer.span(f"ingest.{job.dataset.name}"):
                job.run()
        with self.tracer.span("ingest.counts"):
            incremental.run_counts_import(self.spark, self.lake, os.path.join(self.run_dir, "src"))
        with self.tracer.span("ingest.summaries"):
            for suffix, _pct, _months in SAMPLE_RATES:
                incremental.summarize_daily(self.spark, self.lake, suffix=suffix)

    def maintain(self, day: dt.date) -> None:
        for job in self._jobs(detached=False):
            with self.tracer.span(f"maintain.{job.dataset.name}"):
                job.maintain(day)


class StreamDrops(Workload):
    name = "stream_drops"
    expected_tables = staticmethod(expect.stream_tables)
    lookup_tables = {"uid": "activity_events", "flow_id": "flow_metadata_stream",
                     "range": "daily_event_counts"}

    def watched(self) -> dict[str, str]:
        drops = os.path.join(self.run_dir, "drops")
        events = os.path.join(drops, "events")
        # flow streams read every file of their directory
        return {"activity_events": events, "email_events": events,
                "flow_events": os.path.join(drops, "flow")}

    def ingest(self, day: dt.date) -> None:
        from fxa_activity_metrics_spark.schemas import ACTIVITY, EMAIL
        from fxa_activity_metrics_spark.streaming import activity_stream, flows_stream

        w = self.watched()
        ckpt = os.path.join(self.run_dir, "checkpoints")
        streams = [
            ("activity", lambda: activity_stream.run_dataset_import_stream(
                self.spark, w["activity_events"], self.lake, os.path.join(ckpt, "activity"), ACTIVITY)),
            ("email", lambda: activity_stream.run_dataset_import_stream(
                self.spark, w["email_events"], self.lake, os.path.join(ckpt, "email"), EMAIL)),
            ("flow_sessions", lambda: flows_stream.run_flow_sessions_stream(
                self.spark, w["flow_events"], self.lake, os.path.join(ckpt, "flow_sessions"))),
            ("daily_counts", lambda: flows_stream.run_daily_counts_stream(
                self.spark, w["flow_events"], self.lake, os.path.join(ckpt, "daily_counts"))),
        ]
        for name, start in streams:
            with self.tracer.span(f"ingest.stream.{name}"):
                with self.tracer.span(f"stream.start.{name}"):
                    q = start()
                with self.tracer.span(f"stream.run.{name}"):
                    done = q.awaitTermination(STREAM_TIMEOUT_S)
                if not done:
                    q.stop()
                    raise RuntimeError(f"stream {name} still running after {STREAM_TIMEOUT_S} s")
                if q.exception() is not None:
                    raise RuntimeError(f"stream {name} failed: {q.exception()}")
                self.stream_progress.append({"stream": name, "day": str(day), "progress": [
                    json.loads(p.json) for p in q.recentProgress]})

    def maintain(self, day: dt.date) -> None:
        from fxa_activity_metrics_spark.plans.incremental import ImportJob
        from fxa_activity_metrics_spark.schemas import ACTIVITY, EMAIL

        for ds in (ACTIVITY, EMAIL):
            job = ImportJob(spark=self.spark, lake=self.lake, dataset=ds,
                            source_dir=self.watched()[ds.name])
            with self.tracer.span(f"maintain.{ds.name}"):
                job.maintain(day)

WORKLOADS = {w.name: w for w in (DailyCron, StreamDrops)}
