"""Reference checks: DuckDB over the same parquet inputs is the reference
graft did not produce. Rows are compared as sorted multisets over sorted
column names, non-float values exactly, floats to a relative 1e-12 (or to a
per-column absolute tolerance a caller names), and the arrow column types of
both sides must agree."""
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def connect(data_dir, tables=TABLES):
    """DuckDB connection with one view per input table; a table may be a
    single parquet file or a directory of parts."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        path = os.path.join(data_dir, t + ".parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        if glob.glob(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(tab):
    cols = tab.column_names
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[cols[i]] for i in order) for r in tab.to_pylist()]
    rows.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], rows


def _equal(a, b, atol=0.0):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return (fa == fb or abs(fa - fb) <= atol
                or abs(fa - fb) / max(abs(fa), abs(fb), 1e-300) <= 1e-12)
    return str(a) == str(b)


def _schema(con, rel):
    return con.execute(f"SELECT * FROM ({rel}) LIMIT 0").fetch_arrow_table().schema


def compare(con, ref_rel, got_rel, python_rows=200_000, abs_tol=None):
    """Compare two relations (SELECT statements); None when equal, else a
    one-line reason. Exact multiset equality is tried in DuckDB first; on a
    difference (or a type DuckDB cannot set-compare) the rows are compared
    in Python with the float tolerance, when there are few enough.
    `abs_tol` maps a column to an absolute tolerance its floats may also
    meet."""
    dt = {f.name: str(f.type) for f in _schema(con, ref_rel)}
    gt = {f.name: str(f.type) for f in _schema(con, got_rel)}
    if sorted(dt) != sorted(gt):
        return f"columns differ: ref={sorted(dt)} got={sorted(gt)}"
    bad = [c for c in sorted(dt) if dt[c] != gt[c]]
    if bad:
        return f"type of {bad[0]}: ref={dt[bad[0]]} got={gt[bad[0]]}"
    n_ref = con.execute(f"SELECT count(*) FROM ({ref_rel})").fetchone()[0]
    n_got = con.execute(f"SELECT count(*) FROM ({got_rel})").fetchone()[0]
    if n_ref != n_got:
        return f"row counts differ: ref={n_ref} got={n_got}"
    cols = ", ".join('"' + c.replace('"', '""') + '"' for c in sorted(dt))
    try:
        diff = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM ({ref_rel}) EXCEPT ALL "
            f"SELECT {cols} FROM ({got_rel}))").fetchone()[0]
        if diff == 0:
            return None
    except duckdb.Error:
        diff = None
    if n_ref > python_rows:
        return f"{diff} of {n_ref} rows differ"
    rc, rr = _canon(con.execute(ref_rel).fetch_arrow_table())
    _, gr = _canon(con.execute(got_rel).fetch_arrow_table())
    atol = [(abs_tol or {}).get(c, 0.0) for c in rc]
    for i, (a, b) in enumerate(zip(rr, gr)):
        for j, (va, vb) in enumerate(zip(a, b)):
            if not _equal(va, vb, atol[j]):
                return f"row {i} col {rc[j]}: ref={va!r} got={vb!r}"
    return None


def parquet_rel(path):
    """SELECT over a parquet file, or over every part file of a directory."""
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    return f"SELECT * FROM read_parquet('{path}')"


SEEDED_REFS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_ref")


def reference_key(sql, key_extra):
    return hashlib.sha256((sql + "\0" + key_extra).encode()).hexdigest()[:32]


def reference(con, sql, cache_dir, key_extra=""):
    """DuckDB result of `sql`, cached on disk by the hash of the SQL text and
    `key_extra` (the input's identity). Returned as a relation over the
    cache file, so a cold and a warm cache compare alike. perfbench/oracle_ref
    holds DuckDB's results for the catalog oracles over the committed sf0.001
    tables, computed the same way; an oracle whose SQL or inputs changed
    misses it and is computed here."""
    key = reference_key(sql, key_extra)
    seeded = os.path.join(SEEDED_REFS, key + ".parquet")
    if os.path.exists(seeded):
        return parquet_rel(seeded)
    path = os.path.join(cache_dir, key + ".parquet")
    if not os.path.exists(path):
        tab = con.execute(sql).fetch_arrow_table()
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + f".{os.getpid()}.tmp"
        pq.write_table(tab, tmp)
        os.replace(tmp, path)
    return parquet_rel(path)


def data_identity(data_dir):
    """Hash of the input files' names and bytes."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)):
        h.update(os.path.relpath(p, data_dir).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


COMMITTED_DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_digests.tsv")


def committed_digests(data_dir, path=COMMITTED_DIGESTS):
    """query → output digest already checked against DuckDB, from the
    committed table, when it was made from these inputs; else empty."""
    digests, identity = {}, None
    with open(path) as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if parts[0] == "# identity":
                identity = parts[1]
            elif not line.startswith("#") and len(parts) == 2:
                digests[parts[0]] = parts[1]
    return digests if identity == data_identity(data_dir) else {}


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
