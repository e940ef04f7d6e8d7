"""Answer check against the DuckDB oracle.

The hashing mirrors tools/compare.py in its strict mode: columns sorted by
name, floats hashed at full precision (repr of the float64), a midnight
timestamp equal to its date, rows in result order (every checked query
ends in a total ORDER BY). A copy lives here so the benchmark's notion of
a correct answer does not move when that tool changes.
"""
import datetime
import glob
import hashlib
import os


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(float(v))
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime) and v.time() == datetime.time(0):
        return v.date().isoformat()
    return str(v)


def digest(cols, rows):
    """{rows, cols, hash} of a result: what two answers must share."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.md5()
    for row in rows:
        h.update("|".join(_norm(row[i]) for i in order).encode())
        h.update(b"\n")
    return {"rows": len(rows), "cols": sorted(cols), "hash": h.hexdigest()}


def oracle_digests(corpus_dir, sql_by_query):
    """Runs each oracle statement in DuckDB over the corpus."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET enable_progress_bar=false")
    for p in glob.glob(os.path.join(corpus_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sql_by_query.items():
        res = con.execute(sql)
        out[name] = digest([d[0] for d in res.description], res.fetchall())
    return out


def dump_digest(dump_dir):
    """Digest of one query's dumped answer, or None when nothing was
    written (the query threw)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(dump_dir, "*.parquet")))
    if not files:
        return None
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    cols = tbl.column_names
    return digest(cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()])
