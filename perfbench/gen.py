"""Seeded day-drop generator for the benchmark.

Writes the reference's four daily drops for ``n_days`` consecutive
days into one directory, headerless CSV named ``{prefix}-{day}.csv``
(``fxa-basic-metrics-{day}.txt`` for counts), each file's mtime set to
its day. Each day comes from its own ``numpy`` generator seeded by
that day's seed, so the seeds fix every byte; the generator runs in
one process and starts no threads.

Why each property is there:

- ``N_UIDS`` (16k) uids drawn with Zipf weights (s = 0.8): a few heavy users and
  a long tail, so uid point lookups hit both large and tiny slices and
  the 7-day multi-device join sees skew.
- uid and flow_id cohort prefixes (first 7 hex chars) are uniform over
  0-99 and independent of popularity, so the 10 % ⊂ 50 % ⊂ 100 %
  sampled variants nest and each holds its share of rows.
- each uid owns 1-3 devices and reappears across days, so multi-device
  users fall inside the 7-day lookback of ``daily_multi_device_users``;
  ``EMPTY_DEVICE`` of the rows carry an empty device_id, which the
  summaries must skip.
- ``LATE_FLOWS`` of the flows begin in the last 20 minutes of a day and
  finish after midnight; their later events sit in the next day's file,
  which exercises the flow import's one-day grace window. Spill-over
  from the last generated day is dropped, like a day that has not
  arrived yet.
- ``STRAGGLERS`` of the rows carry a timestamp from the day before
  (and, for activity, the day after); the import must drop them.
- corrupt rows (unparsable numbers) stay below MAXERROR: ``BAD_EVENTS``
  per event file (cap 100), ``BAD_COUNTS`` per counts file (cap 10).
- email and counts files are written each day, so all four imports and
  ``run_counts_import`` have work.
- per flow, locale and uid are the same on every non-begin event and
  flow_time grows with the timestamp, so a flow's enrichment does not
  depend on which of its two days is imported first.

Usage: ``python perfbench/gen.py OUT_DIR SEED [SEED ...]`` (one seed
per day).
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np

BASE_DAY = dt.date(2024, 3, 1)
N_UIDS = 16_000
ZIPF_S = 0.8
ACT_ROWS = 12_000  # activity rows per day
FLOWS = 1_500  # flows beginning per day
EMAILS = 1_200  # email rows per day
EMPTY_DEVICE = 0.03
LATE_FLOWS = 0.05
STRAGGLERS = 0.005
BAD_EVENTS = 20
BAD_COUNTS = 2

BROWSERS = np.array(["Firefox", "Chrome", "Safari", ""])
VERSIONS = np.array(["57", "58.0.1", "60", ""])
OSES = np.array(["Windows 10", "Android", "Mac OS X", ""])
ACT_TYPES = np.array(["account.login", "account.signed", "account.verified", "device.created"])
SERVICES = np.array(["sync", "", "5882386c6d801776"])
LOCALES = np.array(["en-US", "de", "fr"])
CONTEXTS = np.array(["fx_desktop_v3", "web", ""])
ENTRYPOINTS = np.array(["preferences", "menupanel", ""])
EXPERIMENTS = np.array(["flow.experiment.mailcheck.control", "flow.experiment.mailcheck.treatment",
                        "flow.experiment.signinCodes.treatment"])
DOMAINS = np.array(["gmail.com", "outlook.com", "other"])
TEMPLATES = np.array(["verify", "recovery", "verifyLogin"])
EMAIL_TYPES = np.array(["sent", "delivered", "bounced", "complaint", "click"])


def _epoch(day: dt.date) -> int:
    return int(dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc).timestamp())


def _hex_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` 64-hex ids whose first 7 chars are a cohort in 0-99."""
    cohorts = rng.integers(0, 100, n)
    tails = rng.integers(0, 2**63, (n, 4), dtype=np.int64)
    return np.array([
        f"{c:07x}" + "".join(f"{t:016x}" for t in row)[:57]
        for c, row in zip(cohorts, tails)
    ])


def _pick(rng, values: np.ndarray, n: int) -> np.ndarray:
    return values[rng.integers(0, len(values), n)]


class Population:
    """Users (Zipf popularity by index) and their devices."""

    def __init__(self, rng: np.random.Generator):
        self.uids = _hex_ids(rng, N_UIDS)
        w = 1.0 / np.arange(1, N_UIDS + 1) ** ZIPF_S
        self.weights = w / w.sum()
        n_dev = rng.choice([1, 2, 3], N_UIDS, p=[0.6, 0.3, 0.1])
        self.devices = [
            [f"{x:016x}{y:016x}" for x, y in rng.integers(0, 2**63, (k, 2), dtype=np.int64)]
            for k in n_dev
        ]

    def draw(self, rng, n: int) -> np.ndarray:
        return rng.choice(N_UIDS, n, p=self.weights)


def _write(path: str, lines: list[str], day: dt.date) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.utime(path, (_epoch(day), _epoch(day)))


def _corrupt(rng, lines: list[str], bad: list[str]) -> list[str]:
    """Insert the corrupt lines at seeded positions."""
    out = list(lines)
    for b in bad:
        out.insert(int(rng.integers(0, len(out) + 1)), b)
    return out


def _activity(rng, pop: Population, day: dt.date) -> list[str]:
    e0 = _epoch(day)
    users = pop.draw(rng, ACT_ROWS)
    ts = e0 + rng.integers(0, 86400, ACT_ROWS)
    stray = rng.random(ACT_ROWS) < STRAGGLERS
    ts[stray] += rng.choice([-86400, 86400], int(stray.sum()))
    browsers, versions, oses = (_pick(rng, v, ACT_ROWS) for v in (BROWSERS, VERSIONS, OSES))
    types, services = _pick(rng, ACT_TYPES, ACT_ROWS), _pick(rng, SERVICES, ACT_ROWS)
    dev_pick = rng.integers(0, 3, ACT_ROWS)
    no_dev = rng.random(ACT_ROWS) < EMPTY_DEVICE
    lines = []
    for i, u in enumerate(users):
        devs = pop.devices[u]
        dev = "" if no_dev[i] else devs[dev_pick[i] % len(devs)]
        lines.append(f"{ts[i]},{browsers[i]},{versions[i]},{oses[i]},{pop.uids[u]},"
                     f"{types[i]},{services[i]},{dev}")
    bad = [f"x{ts[i]},Firefox,57,Linux,{pop.uids[users[i]]},account.login,sync,"
           for i in range(BAD_EVENTS)]
    return _corrupt(rng, lines, bad)


def _flow_line(ts, typ, fid, ftime, begin, ctx, entry, loc, uid) -> str:
    # 18 fields: timestamp,type,flow_id,flow_time,ua_browser,ua_version,
    # ua_os,context,entrypoint,migration,service,utm_campaign,
    # utm_content,utm_medium,utm_source,utm_term,locale,uid
    ua = ",".join(begin)
    return (f"{ts},{typ},{fid},{ftime},{ua},{ctx},{entry},,sync,spring,,email,"
            f"newsletter,,{loc},{uid}")


def _flows(rng, pop: Population, day: dt.date, prev_ids: np.ndarray):
    """Flow lines of ``day`` and the after-midnight lines for day+1."""
    e0 = _epoch(day)
    ids = _hex_ids(rng, FLOWS)
    late = rng.random(FLOWS) < LATE_FLOWS
    t0 = np.where(late, e0 + 86400 - rng.integers(60, 1200, FLOWS),
                  e0 + rng.integers(0, 86400 - 4000, FLOWS))
    users = pop.draw(rng, FLOWS)
    today, spill = [], []
    for i, fid in enumerate(ids):
        begin = (_pick(rng, BROWSERS, 1)[0], _pick(rng, VERSIONS, 1)[0], _pick(rng, OSES, 1)[0])
        ctx, entry = _pick(rng, CONTEXTS, 1)[0], _pick(rng, ENTRYPOINTS, 1)[0]
        loc, uid = _pick(rng, LOCALES, 1)[0], pop.uids[users[i]]
        blank = ("", "", "")
        t = int(t0[i])
        events = [(t, "flow.begin", 0, begin, ctx, entry, "", "")]
        steps = ["flow.have-password"]
        if rng.random() < 0.15:
            steps.append(str(_pick(rng, EXPERIMENTS, 1)[0]))
        if rng.random() < 0.05 and len(prev_ids):
            steps.append("flow.continued." + str(prev_ids[rng.integers(0, len(prev_ids))]))
        if rng.random() < 0.2:
            steps.append("account.created")
        if rng.random() < 0.6:
            steps.append("flow.complete")
        for typ in steps:
            # late flows finish after midnight: 25-30 min after begin
            t += int(rng.integers(1500, 1800)) if late[i] else int(rng.integers(5, 900))
            events.append((t, typ, (t - int(t0[i])) * 1000, blank, "", "", loc, uid))
        for ts, typ, ftime, ua, c, en, lo, u in events:
            line = _flow_line(ts, typ, fid, ftime, ua, c, en, lo, u)
            (today if ts < e0 + 86400 else spill).append(line)
    strays = _hex_ids(rng, max(1, int(FLOWS * STRAGGLERS)))
    for fid in strays:
        ts = e0 - int(rng.integers(1, 86400))
        today.append(_flow_line(ts, "flow.have-password", fid, 1000, ("", "", ""), "", "", "en-US", ""))
    bad = [_flow_line(f"x{e0}", "flow.have-password", f, 1000, ("", "", ""), "", "", "de", "")
           for f in _hex_ids(rng, BAD_EVENTS)]
    return _corrupt(rng, today, bad), spill, ids


def _emails(rng, day: dt.date, flow_ids: np.ndarray) -> list[str]:
    e0 = _epoch(day)
    ts = e0 + rng.integers(0, 86400, EMAILS)
    stray = rng.random(EMAILS) < STRAGGLERS
    ts[stray] -= 86400
    fids = flow_ids[rng.integers(0, len(flow_ids), EMAILS)]
    types = _pick(rng, EMAIL_TYPES, EMAILS)
    dom, tpl, loc = (_pick(rng, v, EMAILS) for v in (DOMAINS, TEMPLATES, LOCALES))
    lines = [
        f"{ts[i]},{fids[i]},{dom[i]},{tpl[i]},{types[i]},"
        f"{'true' if types[i] == 'bounced' else ''},{'true' if types[i] == 'complaint' else ''},{loc[i]}"
        for i in range(EMAILS)
    ]
    bad = [f"x{e0},{fids[i]},gmail.com,verify,sent,,,en-US" for i in range(BAD_EVENTS)]
    return _corrupt(rng, lines, bad)


def day_of(i: int) -> dt.date:
    return BASE_DAY + dt.timedelta(days=i)


class Drops:
    """Writes consecutive days of drops, one ``next_day`` call per day.
    Users and devices come from ``pop_seed`` so that they recur across
    days whatever each day's seed; flows that spill past midnight and
    flows that later ones continue carry over from day to day."""

    def __init__(self, out_dir: str, pop_seed: int = 0):
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.pop = Population(np.random.default_rng(pop_seed))
        self.spill: list[str] = []
        self.prev_ids = np.array([], dtype=str)
        self.accounts = 1_500_000
        self.days: list[dt.date] = []

    def next_day(self, seed: int) -> dict[str, str]:
        """Write the next day from ``seed``; returns prefix -> path."""
        i = len(self.days)
        rng = np.random.default_rng([seed, i])
        day = day_of(i)
        act = _activity(rng, self.pop, day)
        flows, spill, ids = _flows(rng, self.pop, day, self.prev_ids)
        emails = _emails(rng, day, ids)
        self.accounts += int(rng.integers(1000, 5000))
        counts = [f"{day},{self.accounts},{self.accounts * 9 // 10}"]
        counts = _corrupt(rng, counts, [f"{day},n{self.accounts},0" for _ in range(BAD_COUNTS)])
        files = {
            "activity_events": (f"activity_events-{day}.csv", act),
            "flow_events": (f"flow_events-{day}.csv", self.spill + flows),
            "email_events": (f"email_events-{day}.csv", emails),
            "fxa-basic-metrics": (f"fxa-basic-metrics-{day}.txt", counts),
        }
        out = {}
        for prefix, (name, lines) in files.items():
            out[prefix] = os.path.join(self.out_dir, name)
            _write(out[prefix], lines, day)
        self.spill, self.prev_ids = spill, ids
        self.days.append(day)
        return out


def generate(out_dir: str, seeds: list[int], pop_seed: int = 0) -> list[dt.date]:
    """One day of all four drops per entry of ``seeds``; returns the days."""
    drops = Drops(out_dir, pop_seed)
    for seed in seeds:
        drops.next_day(seed)
    return drops.days


if __name__ == "__main__":
    generate(sys.argv[1], [int(a) for a in sys.argv[2:]])
