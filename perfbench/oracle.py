"""DuckDB reference for the `lake` query mix.

The Spark side records every query it ran (template, parameters, rows) in
queries.jsonl; each is re-run here as SQL over the same Hive-partitioned
lake, the reference README's own query path, and compared row by row with
the canonicalisation of tools/oracle_check.py.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from oracle_check import rows_of  # noqa: E402

POINT = "SELECT id, title, country, released FROM release WHERE id = ? ORDER BY id"
SQL = {
    "genre_year": """SELECT country, count(*) AS n FROM release
        WHERE list_contains(genres, ?) AND substr(released, 1, 4) BETWEEN ? AND ?
        GROUP BY country ORDER BY country""",
    "style_top_labels": """SELECT lb.id, lb.name, count(*) AS n
        FROM (SELECT unnest(labels).name AS name FROM release WHERE list_contains(styles, ?)) l
        JOIN label lb ON l.name = lb.name
        GROUP BY lb.id, lb.name ORDER BY n DESC, lb.id ASC LIMIT 10""",
    "master_rank": """SELECT country, master_id, year, rn FROM (
          SELECT r.country, m.id AS master_id, m.year,
                 row_number() OVER (PARTITION BY r.country ORDER BY m.year DESC, m.id ASC) AS rn
          FROM master m JOIN release r ON m.main_release = r.id
          WHERE list_contains(m.genres, ?)) t
        WHERE rn <= 3 ORDER BY country, rn""",
    "lookup_plain": POINT,
    "lookup_zonemap": POINT,
}


def check(lake, queries_path):
    """Return (number of queries compared, list of mismatch descriptions)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for e in ("release", "label", "master"):
        con.execute(f"CREATE VIEW {e} AS SELECT * FROM read_parquet("
                    f"'{lake}/{e}/*/*/*.parquet', hive_partitioning = true)")
    bad, n, refs = [], 0, {}
    with open(queries_path) as fh:
        for line in fh:
            q = json.loads(line)
            key = (q["template"], json.dumps(q["params"]))
            if key not in refs:
                got = con.execute(SQL[q["template"]], q["params"]).arrow()
                refs[key] = rows_of([got.column(c).to_pylist() for c in got.column_names], None)
            want = rows_of(list(zip(*q["rows"])), None) if q["rows"] else []
            n += 1
            if want != refs[key] and len(bad) < 5:
                bad.append(f"{q['template']}{q['params']}: spark {want[:3]} duckdb {refs[key][:3]}")
    return n, bad
