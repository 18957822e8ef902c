"""Dump the last micro-batch plan of the four day-drop streams the
`stream_drops` benchmark runs (activity, email, flow_sessions,
daily_counts) to plans/<dir>/<stream>_<tag>.txt.

Usage: python tools/dump_stream_plans.py <dir> before|after

Inputs are the two-day test fixtures (tests/fixtures.py); activity and
email drops share one directory, flow drops have their own. Temporary
paths in the plans are replaced by <drops>, so two dumps diff cleanly
apart from expression ids.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from fxa_activity_metrics_spark.schemas import ACTIVITY, EMAIL  # noqa: E402
from fxa_activity_metrics_spark.session import get_spark  # noqa: E402
from fxa_activity_metrics_spark.sources.lake import Lake  # noqa: E402
from fxa_activity_metrics_spark.streaming import activity_stream, flows_stream  # noqa: E402
from tests.fixtures import hex_id, write_activity_days, write_csv, write_flow_days  # noqa: E402

DAYS = [dt.date(2024, 3, 1), dt.date(2024, 3, 2)]


def main() -> None:
    outdir, tag = os.path.join(REPO, "plans", sys.argv[1]), sys.argv[2]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("fxa-stream-plans")
    with tempfile.TemporaryDirectory() as tmp:
        events, flows = os.path.join(tmp, "events"), os.path.join(tmp, "flow")
        write_activity_days(events, DAYS)
        for day in DAYS:
            write_csv(events, "email_events", day, [
                [1709280000, hex_id(5, "e5"), "gmail.com", "verify", "sent", "", "", "en"],
            ])
        write_flow_days(flows, *DAYS)
        lake = Lake(spark, os.path.join(tmp, "lake"))
        ckpt = os.path.join(tmp, "ckpt")
        streams = {
            "activity": lambda: activity_stream.run_dataset_import_stream(
                spark, events, lake, os.path.join(ckpt, "activity"), ACTIVITY),
            "email": lambda: activity_stream.run_dataset_import_stream(
                spark, events, lake, os.path.join(ckpt, "email"), EMAIL),
            "flow_sessions": lambda: flows_stream.run_flow_sessions_stream(
                spark, flows, lake, os.path.join(ckpt, "flow_sessions")),
            "daily_counts": lambda: flows_stream.run_daily_counts_stream(
                spark, flows, lake, os.path.join(ckpt, "daily_counts")),
        }
        for name, start in streams.items():
            q = start()
            q.awaitTermination(300)
            if q.exception() is not None:
                raise RuntimeError(f"stream {name} failed: {q.exception()}")
            plan = q._jsq.explainInternal(False).replace(f"file:{tmp}", "<drops>").replace(tmp, "<drops>")
            with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
                f.write(plan + "\n")
            print(f"wrote {name}_{tag}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
