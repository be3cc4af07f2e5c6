"""Output checks for a benchmark run.

Each check returns a list of (name, error-or-None) pairs; every pair
counts as one attempted operation, and each error as one failure.
"""
import csv
import glob
import math
import os

ARTIFACTS = ["mysql_schema.json", "mysql_schema_v2.json", "psql_schema.json",
             "psql_tables.sql", "psql_data.sql", "psql_index_fk.sql",
             "psql_views.sql"]

CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]


def read_pg_dump(path):
    """Parses one migrated table's dump directory in the PG \\copy
    dialect the program writes: comma-separated, strings in single
    quotes with '' doubling, NULL bare. Returns its records."""
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="", encoding="utf-8") as f:
            rows.extend(csv.reader(f, delimiter=",", quotechar="'",
                                   doublequote=True, strict=True))
    return rows


def check_migration(checks):
    """Every table's dump parses back to the row count of its
    converted frame, with one field per column, and all seven
    artifact files are present and non-empty."""
    results = []
    for t in checks["tables"]:
        name = "migrate/" + t["output"]
        try:
            rows = read_pg_dump(os.path.join(checks["dump_dir"], t["output"]))
        except (OSError, csv.Error) as e:
            results.append((name, f"unreadable dump: {e}"))
            continue
        bad = [r for r in rows if len(r) != t["columns"]]
        if bad:
            results.append((name, f"{len(bad)} records without {t['columns']} fields"))
        elif not len(rows) == t["expected_rows"] == t["reported_rows"]:
            results.append((name, f"dump has {len(rows)} rows, converted frame "
                                  f"{t['expected_rows']}, migrate reported {t['reported_rows']}"))
        else:
            results.append((name, None))
    for a in ARTIFACTS:
        p = os.path.join(checks["dump_dir"], a)
        ok = os.path.isfile(p) and os.path.getsize(p) > 0
        results.append(("migrate/" + a, None if ok else "missing or empty"))
    return results


def _cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def check_keys(checks, corpus):
    """Compares each key's pinned result with its DuckDB oracle on the
    same corpus: same columns, same column types, and equal cells row
    by row in order."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in CORPUS_TABLES:
        p = os.path.join(corpus, t + ".parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    results = []
    for c in checks:
        name = c["key"]
        if "error" in c:
            results.append((name, c["error"]))
            continue
        if c["oracle"] is None:
            results.append((name, "no oracle"))
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM '{c['result']}/*.parquet'")
            exp_rel = con.sql(c["oracle"])
            got_cols, exp_cols = list(got_rel.columns), list(exp_rel.columns)
            got_types = dict(zip(got_cols, map(str, got_rel.types)))
            exp_types = dict(zip(exp_cols, map(str, exp_rel.types)))
            got, exp = got_rel.fetchall(), exp_rel.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            results.append((name, f"oracle error: {e}"))
            continue
        if sorted(got_cols) != sorted(exp_cols):
            results.append((name, f"columns {sorted(got_cols)} != {sorted(exp_cols)}"))
            continue
        cols = sorted(got_cols)
        if any(got_types[k] != exp_types[k] for k in cols):
            results.append((name, "column types differ"))
            continue
        gi = [got_cols.index(k) for k in cols]
        ei = [exp_cols.index(k) for k in cols]
        if len(got) != len(exp):
            results.append((name, f"rows {len(got)} != {len(exp)}"))
            continue
        diff = next((i for i, (g, e) in enumerate(zip(got, exp))
                     if not all(_cells_equal(g[a], e[b]) for a, b in zip(gi, ei))), None)
        results.append((name, None if diff is None else f"first difference at row {diff}"))
    return results
