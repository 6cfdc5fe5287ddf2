"""Compares lane results with their DuckDB oracles.

The canonical form and the table list are those of tools/check.py,
imported from there: columns sorted by name, every value as text with
floats to 9 significant digits, rows sorted. The oracle side depends
only on the SQL text and the input tables, so its canonical rows are
cached per (SQL, tables) hash.
"""
import hashlib
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
import check  # noqa: E402
from check import TABLES, canon  # noqa: E402

# Lanes whose sf0.1 result differs from their oracle at the commit that
# introduced this benchmark, with the difference. Such a lane stays in
# its workload; a mismatch on any other lane fails the run. Only remove
# entries from this list.
KNOWN_MISMATCHES = {}


def _connect(data_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _expected(con, sql, key, cache_dir):
    f = cache_dir / f"{key}.json"
    if f.exists():
        return json.loads(f.read_text())
    rel = con.sql(sql)
    bad = [[c, str(t)] for c, t in zip(rel.columns, rel.types)
           if str(t) == "HUGEINT" or str(t).startswith("DECIMAL")]
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    exp = {"cols": sorted(cols), "rows": canon(cur.fetchall(), cols), "badtypes": bad}
    cache_dir.mkdir(parents=True, exist_ok=True)
    f.write_text(json.dumps(exp))
    return exp


def compare(data_dir, results_dir, oracle_sql, lanes, cache_dir):
    """Verdict per lane: ok, rows_only (no oracle SQL), missing (no
    output) or mismatch (with `known` set for listed lanes)."""
    con = _connect(data_dir)
    # cached oracle rows are keyed by the tables and by check.py's canonical form
    tables_key = hashlib.sha256(
        "".join(sorted(p.name + str(p.stat().st_size) for p in data_dir.glob("*.parquet"))).encode()
        + Path(check.__file__).read_bytes()
    ).hexdigest()
    out = {}
    for lane in lanes:
        d = results_dir / lane
        if not d.exists() or not any(d.glob("*.parquet")):
            out[lane] = {"status": "missing"}
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')")
        gcols = [x[0] for x in got.description]
        grows = canon(got.fetchall(), gcols)
        if lane not in oracle_sql:
            out[lane] = {"status": "rows_only", "rows": len(grows)}
            continue
        key = hashlib.sha256((oracle_sql[lane] + tables_key).encode()).hexdigest()
        exp = _expected(con, oracle_sql[lane], key, cache_dir)
        if exp["badtypes"]:
            v = {"status": "mismatch", "detail": f"oracle emits {exp['badtypes']}"}
        elif sorted(gcols) != exp["cols"]:
            v = {"status": "mismatch", "detail": f"columns {sorted(gcols)} vs {exp['cols']}"}
        elif grows != exp["rows"]:
            gs, es = set(grows), set(exp["rows"])
            v = {"status": "mismatch", "detail": f"{len(grows)} vs {len(exp['rows'])} rows",
                 "spark_only": [x[:160] for x in sorted(gs - es)[:3]],
                 "oracle_only": [x[:160] for x in sorted(es - gs)[:3]]}
        else:
            v = {"status": "ok", "rows": len(grows)}
        if v["status"] == "mismatch":
            v["known"] = lane in KNOWN_MISMATCHES
        out[lane] = v
    con.close()
    return out
