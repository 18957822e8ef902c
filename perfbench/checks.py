"""Output checks of one run, made after the timed region.

Every lake table the workload builds is compared with the DuckDB
computation over the drops it ingested (rows per table, variant and
day; whole-table checksums where ``expect.CHECKSUMMED`` says so), and
every dashboard read is compared with the rows it should have returned.
"""

from __future__ import annotations

import expect


def run(wl, cores: int) -> tuple[int, list[str]]:
    """Returns the number of table checks and every mismatch found
    (table checks and reads alike)."""
    con = expect.connect(min(cores, 4))
    expect.load_drops(con, sorted(set(wl.watched().values())))
    tables = wl.expected_tables()
    problems = expect.check_lake(con, wl.lake_dir, tables)

    by_kind: dict[str, list] = {}
    for x in wl.lookups:
        by_kind.setdefault(x["kind"], []).append(x)
    want = {kind: expect.lookup_expectations(con, kind, [x["value"] for x in by_kind[kind]])
            for kind in ("uid", "flow_id") if kind in by_kind}
    range_sql = tables[wl.lookup_tables["range"]][0]
    for x in wl.lookups:
        if x["kind"] == "range":
            lo, hi = x["value"]
            exp = con.execute(f"SELECT count(*) FROM ({range_sql}) q WHERE day BETWEEN ? AND ?",
                              [lo, hi]).fetchone()[0]
        else:
            exp = want[x["kind"]][x["value"]]
        if x["rows"] != exp:
            problems.append(f"lookup {x['kind']}={x['value']}: {x['rows']} rows, expected {exp}")
    con.close()
    return len(tables), problems
