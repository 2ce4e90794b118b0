"""Correctness against the repo's DuckDB oracle SQL.

The comparison is tools/check.py's rule: same column names, same row
count, and the same SHA-256 over all values with columns sorted by name
and rows sorted, so row order does not matter."""
import glob
import hashlib

import duckdb


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def fingerprint(rel):
    df = rel.fetchdf()
    cols = sorted(df.columns)
    rows = sorted(tuple(_norm(v) for v in row) for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode() + b"\x1e")
    return cols, len(rows), h.hexdigest()


def check(tables, entries, tmp_dir):
    """tables: view name -> parquet path. entries: dicts with name, sql
    and path (Spark's parquet output). Returns (name, ok, detail) per entry."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for name, path in tables.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    out = []
    for e in entries:
        files = glob.glob(f"{e['path']}/*.parquet")
        if not files:
            out.append((e["name"], False, "no spark output"))
            continue
        try:
            got = fingerprint(con.sql(f"SELECT * FROM read_parquet({files!r})"))
            want = fingerprint(con.sql(e["sql"]))
        except Exception as ex:  # an oracle or read error fails the check
            out.append((e["name"], False, f"error: {ex}"))
            continue
        if got[0] != want[0]:
            out.append((e["name"], False, f"columns {got[0]} != {want[0]}"))
        elif got[1] != want[1]:
            out.append((e["name"], False, f"rows {got[1]} != {want[1]}"))
        else:
            out.append((e["name"], got[2] == want[2], f"{got[1]} rows"))
    con.close()
    return out
