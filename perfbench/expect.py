"""Expected lake contents, computed by DuckDB straight from the CSV drops.

Nothing here goes through Spark or the package under test: the drops
are parsed again with DuckDB, the import rules are restated in SQL
(rows whose numbers do not parse are rejected, rows outside the file's
day are dropped, cohorts come from the first 7 hex chars of the id,
the day's control events are consumed), and the lake tables the
program wrote are read back with DuckDB's own Parquet reader.

Checks compare row counts per table, variant and day, and
order-insensitive checksums of whole tables.
"""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb

VARIANTS = {"_sampled_10": 10, "_sampled_50": 50, "": 100}

_COLS = {
    "activity": ["ts", "ua_browser", "ua_version", "ua_os", "uid", "type", "service", "device_id"],
    "flow": ["ts", "type", "flow_id", "flow_time", "ua_browser", "ua_version", "ua_os", "context",
             "entrypoint", "migration", "service", "utm_campaign", "utm_content", "utm_medium",
             "utm_source", "utm_term", "locale", "uid"],
    "email": ["ts", "flow_id", "domain", "template", "type", "bounced", "complaint", "locale"],
    "counts": ["day", "accounts", "verified_accounts"],
}
_FILES = {
    "activity": "activity_events-*.csv",
    "flow": "flow_events-*.csv",
    "email": "email_events-*.csv",
    "counts": "fxa-basic-metrics-*.txt",
}


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={max(1, threads)}")
    return con


def _cohort(col: str) -> str:
    return f"(('0x' || substr({col}, 1, 7))::BIGINT % 100)"


def load_drops(con: duckdb.DuckDBPyConnection, src_dirs: list[str]) -> None:
    """Staging views ``raw_<dataset>`` over every drop in ``src_dirs``
    and typed views ``<dataset>_rows`` of the rows an import keeps."""
    for ds, cols in _COLS.items():
        spec = ", ".join(f"'{c}': 'VARCHAR'" for c in cols)
        files = sorted(f for d in src_dirs for f in glob.glob(os.path.join(d, _FILES[ds])))
        if not files:
            nulls = ", ".join(f"NULL::VARCHAR AS {c}" for c in cols)
            con.execute(f"CREATE OR REPLACE VIEW raw_{ds} AS SELECT {nulls}, "
                        "NULL::DATE AS file_day WHERE false")
            continue
        path = "', '".join(files)
        con.execute(f"""
            CREATE OR REPLACE VIEW raw_{ds} AS
            SELECT *, regexp_extract(filename, '(\\d{{4}}-\\d{{2}}-\\d{{2}})', 1)::DATE AS file_day
            FROM read_csv(['{path}'], header=false, columns={{{spec}}}, filename=true,
                          quote='', escape='', delim=',', null_padding=true,
                          nullstr='\\N')
        """)
    for ds in ("activity", "flow", "email"):
        extra = ", TRY_CAST(flow_time AS BIGINT) AS ft" if ds == "flow" else ""
        ok = "TRY_CAST(ts AS BIGINT) IS NOT NULL" + (
            " AND TRY_CAST(flow_time AS BIGINT) IS NOT NULL" if ds == "flow" else "")
        con.execute(f"""
            CREATE OR REPLACE VIEW {ds}_all AS
            SELECT * EXCLUDE (ts), to_timestamp(ts::BIGINT)::TIMESTAMP AS ts,
                   to_timestamp(ts::BIGINT)::DATE AS day {extra}
            FROM raw_{ds} WHERE {ok}
        """)
        con.execute(f"CREATE OR REPLACE VIEW {ds}_rows AS SELECT * FROM {ds}_all WHERE day = file_day")
    con.execute("""
        CREATE OR REPLACE VIEW counts_rows AS
        SELECT day::DATE AS day, max(accounts::BIGINT) AS accounts,
               max(verified_accounts::BIGINT) AS verified_accounts
        FROM raw_counts
        WHERE TRY_CAST(accounts AS BIGINT) IS NOT NULL
          AND TRY_CAST(verified_accounts AS BIGINT) IS NOT NULL
        GROUP BY 1
    """)


def rejected_rows(con) -> int:
    """Rows every import must reject as corrupt (MAXERROR budget)."""
    n = 0
    for ds in ("activity", "flow", "email"):
        n += con.execute(f"SELECT count(*) FROM raw_{ds}").fetchone()[0]
        n -= con.execute(f"SELECT count(*) FROM {ds}_all").fetchone()[0]
    n += con.execute(
        "SELECT count(*) FROM raw_counts WHERE TRY_CAST(accounts AS BIGINT) IS NULL"
        " OR TRY_CAST(verified_accounts AS BIGINT) IS NULL").fetchone()[0]
    return n


def _sampled(id_col: str, pct: int) -> str:
    return "TRUE" if pct >= 100 else f"{_cohort(id_col)} < {pct}"


_CONSUMED = "(type = 'flow.begin' OR type LIKE 'flow.continued.%' OR type LIKE 'flow.experiment.%')"


def expected_flow_metadata(pct: int) -> str:
    """One row per flow that began in an imported day, enriched from
    its later events: the imports' end state when the drops are
    imported oldest day first (each flow's events span at most its
    begin day and the next)."""
    return f"""
        WITH b AS (
          SELECT flow_id, min(ts) AS begin_time, any_value(day) AS export_date,
                 any_value(ua_browser) AS ua_browser, any_value(ua_version) AS ua_version,
                 any_value(ua_os) AS ua_os, any_value(context) AS context,
                 any_value(entrypoint) AS entrypoint, any_value(migration) AS migration,
                 any_value(service) AS service, any_value(utm_campaign) AS utm_campaign,
                 any_value(utm_content) AS utm_content, any_value(utm_medium) AS utm_medium,
                 any_value(utm_source) AS utm_source, any_value(utm_term) AS utm_term,
                 any_value(locale) AS b_locale, any_value(uid) AS b_uid
          FROM flow_rows WHERE type = 'flow.begin' AND {_sampled('flow_id', pct)}
          GROUP BY flow_id),
        e AS (
          SELECT flow_id, max(ft) AS duration, max(locale) AS locale, max(uid) AS uid,
                 bool_or(type = 'flow.complete') AS completed,
                 bool_or(type = 'account.created') AS new_account,
                 max(CASE WHEN type LIKE 'flow.continued.%' THEN substr(type, 16, 64) END) AS cf
          FROM flow_rows WHERE type <> 'flow.begin' GROUP BY flow_id)
        SELECT b.flow_id, b.begin_time, coalesce(e.duration, 0) AS duration,
               coalesce(e.completed, false) AS completed,
               coalesce(e.new_account, false) AS new_account,
               ua_browser, ua_version, ua_os, context, entrypoint, migration, service,
               utm_campaign, utm_content, utm_medium, utm_source, utm_term, export_date,
               coalesce(e.locale, b_locale) AS locale, coalesce(e.uid, b_uid) AS uid,
               coalesce(e.cf, '') AS continued_from
        FROM b LEFT JOIN e USING (flow_id)
    """


def expected_device(pct: int) -> str:
    return f"""
        SELECT DISTINCT day, uid, device_id, service, ua_browser, ua_version, ua_os
        FROM activity_rows WHERE device_id <> '' AND {_sampled('uid', pct)}
    """


def expected_multi_device(pct: int) -> str:
    return f"""
        WITH d AS ({expected_device(pct)})
        SELECT DISTINCT a.day, a.uid, a.device_id AS device_now, p.device_id AS device_prev
        FROM d a JOIN d p ON a.uid = p.uid AND a.device_id <> p.device_id
          AND p.day BETWEEN a.day - 7 AND a.day
    """


def expected_event_counts() -> str:
    """The streamed daily (day, type) counts over every parsed flow row."""
    return "SELECT day, type, count(*) AS n_events FROM flow_all GROUP BY 1, 2"


def batch_tables() -> dict[str, tuple[str, str]]:
    """table -> (expected SQL, partition column) for the batch pipeline."""
    out: dict[str, tuple[str, str]] = {}
    for sfx, pct in VARIANTS.items():
        out[f"activity_events{sfx}"] = (
            f"SELECT * FROM activity_rows WHERE {_sampled('uid', pct)}", "day")
        out[f"email_events{sfx}"] = (
            f"SELECT * FROM email_rows WHERE {_sampled('flow_id', pct)}", "day")
        out[f"flow_events{sfx}"] = (
            f"SELECT * FROM flow_rows WHERE NOT {_CONSUMED} AND {_sampled('flow_id', pct)}", "day")
        out[f"flow_metadata{sfx}"] = (expected_flow_metadata(pct), "export_date")
        out[f"flow_experiments{sfx}"] = (f"""
            SELECT DISTINCT split_part(type, '.', 3) AS experiment,
                   split_part(type, '.', 4) AS cohort, ts, flow_id, uid, day AS export_date
            FROM flow_rows WHERE type LIKE 'flow.experiment.%' AND {_sampled('flow_id', pct)}
        """, "export_date")
        out[f"daily_activity_per_device{sfx}"] = (expected_device(pct), "day")
        out[f"daily_multi_device_users{sfx}"] = (expected_multi_device(pct), "day")
    out["counts"] = ("SELECT * FROM counts_rows", "day")
    return out


def stream_tables() -> dict[str, tuple[str, str]]:
    """table -> (expected SQL, partition column) for the streamed lake:
    the stream-built tables must equal their batch counterparts."""
    out = {t: v for t, v in batch_tables().items()
           if t.startswith(("activity_events", "email_events"))}
    out["flow_metadata_stream"] = (expected_flow_metadata(100), "export_date")
    out["daily_event_counts"] = (expected_event_counts(), "day")
    return out


# tables whose full contents are compared, beyond per-day row counts
CHECKSUMMED = ("daily_activity_per_device", "daily_multi_device_users", "flow_metadata",
               "daily_event_counts")


def lake_view(con, lake_root: str, table: str) -> str | None:
    """SQL over the Parquet files of one lake table, or None when the
    table has no files. Hidden (dot-prefixed) staging dirs are skipped."""
    root = os.path.join(lake_root, table)
    files = sorted(glob.glob(os.path.join(root, "*.parquet"))
                   + glob.glob(os.path.join(root, "[!._]*=*", "*.parquet")))
    if not files:
        return None
    lst = ", ".join(f"'{f}'" for f in files)
    return f"SELECT * FROM read_parquet([{lst}], hive_partitioning=true)"


def _digest(con, sql: str, cols: list[str]) -> tuple[int, str]:
    """Row count and order-insensitive digest of a query's rows over
    ``cols`` (timestamps compared at microseconds, UTC)."""
    exprs = ", ".join(
        f"coalesce(CAST(CAST({c} AS TIMESTAMP) AS VARCHAR), '<null>')" if c == "begin_time"
        else f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in cols)
    rows = con.execute(f"SELECT {exprs} FROM ({sql}) q").fetchall()
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


def check_lake(con, lake_root: str, tables: dict[str, tuple[str, str]]) -> list[str]:
    """Compare the lake against the expected tables; returns mismatches."""
    problems = []
    for table, (sql, part) in sorted(tables.items()):
        got_sql = lake_view(con, lake_root, table)
        exp_days = dict(con.execute(
            f"SELECT CAST({part} AS DATE), count(*) FROM ({sql}) q GROUP BY 1").fetchall())
        if got_sql is None:
            if exp_days:
                problems.append(f"{table}: missing from the lake")
            continue
        got_days = dict(con.execute(
            f"SELECT CAST({part} AS DATE), count(*) FROM ({got_sql}) q GROUP BY 1").fetchall())
        if got_days != exp_days:
            problems.append(f"{table}: rows per {part} {got_days} != expected {exp_days}")
            continue
        if table.startswith(CHECKSUMMED):
            cols = [d[0] for d in con.execute(f"DESCRIBE {got_sql}").fetchall()]
            exp_cols = [d[0] for d in con.execute(f"DESCRIBE {sql}").fetchall()]
            if sorted(cols) != sorted(exp_cols):
                problems.append(f"{table}: columns {sorted(cols)} != {sorted(exp_cols)}")
                continue
            got = _digest(con, got_sql, sorted(cols))
            exp = _digest(con, sql, sorted(cols))
            if got != exp:
                problems.append(f"{table}: checksum {got} != expected {exp}")
    return problems


def lookup_expectations(con, kind: str, values: list[str]) -> dict[str, int]:
    """Expected row count per key of uid lookups (activity rows of the
    uid) or flow_id lookups (one session row per begun flow)."""
    sql = {"uid": "SELECT uid AS k FROM activity_rows",
           "flow_id": "SELECT flow_id AS k FROM flow_rows WHERE type = 'flow.begin'"}[kind]
    con.execute("CREATE OR REPLACE TEMP TABLE want(k VARCHAR)")
    con.executemany("INSERT INTO want VALUES (?)", [(v,) for v in sorted(set(values))])
    got = dict(con.execute(f"SELECT k, count(*) FROM ({sql}) s JOIN want USING (k) GROUP BY k").fetchall())
    return {v: got.get(v, 0) for v in values}
