"""Correctness checks, run after the timed region.

- olap: each query's warm-pass result against DuckDB running the query's
  ``SparkEntry.oracleSql`` over the same parquet; queries without an
  oracle against an order-insensitive digest pinned in ``pins.json``.
- cdc: the sink table against ``gen.replay`` of the lines the job read.
"""
import datetime
import decimal
import glob
import hashlib
import os

TABLES = ("region nation customer supplier part orders lineitem events documents "
          "embeddings").split()


def _norm(v):
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return repr(v)


def digest(cols, rows, ordered):
    """Hash of column names and cell values; rows sorted when not ``ordered``."""
    lines = ["\x01".join(_norm(v) for v in r) for r in rows]
    if not ordered:
        lines.sort()
    h = hashlib.sha256("\x02".join(cols).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def read_result(path):
    """(sorted column names, rows) of a parquet result directory."""
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    tbl = pq.read_table(files[0]) if len(files) == 1 else pq.read_table(path)
    cols = sorted(tbl.column_names)
    return cols, [[r[c] for c in cols] for r in tbl.to_pylist()]


def olap(out_dir, data_dir, names, oracle_sql, pins):
    """{query: None if correct else a one-line reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdicts = {}
    for q in names:
        try:
            cols, rows = read_result(os.path.join(out_dir, q))
        except Exception as e:  # the warm pass failed or wrote nothing
            verdicts[q] = f"no result: {e}"[:200]
            continue
        if q in oracle_sql:
            try:
                cur = con.execute(oracle_sql[q])
                raw_cols = [d[0] for d in cur.description]
                raw_rows = cur.fetchall()
            except Exception as e:
                verdicts[q] = f"oracle error: {e}"[:200]
                continue
            order = sorted(range(len(raw_cols)), key=lambda i: raw_cols[i])
            d_cols = [raw_cols[i] for i in order]
            d_rows = [[r[i] for i in order] for r in raw_rows]
            if cols != d_cols:
                verdicts[q] = f"columns differ: {cols} vs {d_cols}"[:200]
            elif len(rows) != len(d_rows):
                verdicts[q] = f"rows differ: {len(rows)} vs {len(d_rows)}"
            elif digest(cols, rows, True) != digest(d_cols, d_rows, True):
                same_set = digest(cols, rows, False) == digest(d_cols, d_rows, False)
                verdicts[q] = "row order differs" if same_set else "values differ"
            else:
                verdicts[q] = None
        elif q in pins:
            got = digest(cols, rows, False)
            verdicts[q] = None if got == pins[q] else f"digest {got} != pinned {pins[q]}"
        else:
            verdicts[q] = f"no oracle and no pinned digest (got {digest(cols, rows, False)})"
    return verdicts


def sink(rows, expected):
    """Compare sink rows (lists of strings or None) with ``gen.replay`` rows.

    Returns counts of lost keys (expected, absent), extra keys (present,
    not expected), duplicate keys (more than one row) and wrong keys
    (values differ), and the keys themselves."""
    by_key = {}
    for r in rows:
        by_key.setdefault(int(r[0]), []).append(r)
    as_str = lambda t: [None if v is None else str(v) for v in t]
    lost = [k for k in expected if k not in by_key]
    extra = [k for k in by_key if k not in expected]
    dup = [k for k, rs in by_key.items() if len(rs) > 1]
    wrong = [k for k, rs in by_key.items()
             if k in expected and len(rs) == 1 and as_str(rs[0]) != as_str(expected[k])]
    bad = sorted(set(lost + extra + dup + wrong))
    return {"rows": len(rows), "expected": len(expected), "lost": len(lost),
            "extra": len(extra), "duplicate": len(dup), "wrong": len(wrong),
            "examples": bad[:5], "bad_keys": bad}
