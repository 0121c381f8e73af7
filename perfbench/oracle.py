"""Compare the pipeline's reference results with each query's DuckDB oracle
SQL over the same parquet tables. Normalization follows
scripts/check_oracle.py: columns sorted by name, rows sorted, floats at
10 significant digits, integer widths up to int64 treated alike.
"""
import math
from pathlib import Path

import duckdb


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return repr(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out, order


def _normtype(t):
    t = str(t).upper()
    return {"TINYINT": "INT64", "SMALLINT": "INT64", "INTEGER": "INT64",
            "BIGINT": "INT64", "UTINYINT": "INT64", "USMALLINT": "INT64",
            "UINTEGER": "INT64",
            "TIMESTAMP WITH TIME ZONE": "TIMESTAMP",
            "TIMESTAMP_NS": "TIMESTAMP"}.get(t, t)


def check(data_dir: Path, work: Path):
    """Returns (checked, [(query, reason)]) for every oracle row."""
    tsv = work / "oracle_sql.tsv"
    if not tsv.exists():
        return 0, []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(data_dir.glob("*.parquet")):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    bad = []
    lines = [l for l in tsv.read_text().splitlines() if l.strip()]
    for line in lines:
        name, sql = line.split("\t", 1)
        try:
            s = con.sql(f"SELECT * FROM '{work / 'results' / name}/*.parquet'")
            scols, srows, sorder = _canon(s.columns, s.fetchall())
            stypes = [_normtype(s.types[i]) for i in sorder]
            d = con.sql(sql)
            dcols, drows, dorder = _canon(d.columns, d.fetchall())
            dtypes = [_normtype(d.types[i]) for i in dorder]
        except Exception as e:  # a query the oracle cannot run is a failure
            bad.append((name, f"error {e}"[:200]))
            continue
        if scols != dcols:
            bad.append((name, f"columns {scols} vs {dcols}"))
        elif stypes != dtypes:
            bad.append((name, f"types {stypes} vs {dtypes}"))
        elif len(srows) != len(drows):
            bad.append((name, f"rows {len(srows)} vs {len(drows)}"))
        elif srows != drows:
            bad.append((name, "values differ"))
    con.close()
    return len(lines), bad
