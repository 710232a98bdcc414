"""Seeded input generator for the bulk_etl workload: TPC-H-shaped lineitem
and orders plus documents and embeddings tables, with the schemas of the
repository's fixture tables, each written as several parquet files so a scan
can use every core. The same seed gives byte-identical files."""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table and parquet files per table
SIZES = {"lineitem": (60_000, 8), "orders": (15_000, 4),
         "documents": (1_000, 4), "embeddings": (2_000, 4)}
EMB_DIM = 64
WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark line "
         "sort window data column join small customer query big order stream filter group "
         "vector").split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")


def _days(rng, n, span):
    return EPOCH_1995 + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _choice(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem(rng, n, n_orders, n_parts):
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days(rng, n, 2500), pa.timestamp("us")),
    })


def orders(rng, n):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(n // 10, 1), n), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1_000, 500_000, n), pa.float64()),
        "o_orderdate": pa.array(_days(rng, n, 2400), pa.timestamp("us")),
        "o_orderpriority": _choice(rng, PRIORITIES, n),
    })


def documents(rng, n):
    words = np.array(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(k))]) for k in rng.integers(20, 90, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, ["en", "en", "en", "de", "fr"], n),
        "source": _choice(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64), pa.int64()),
    })


def embeddings(rng, n):
    vals = (rng.standard_normal((n, EMB_DIM)) * 0.1).astype(np.float32)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
                                   pa.array(vals.reshape(-1), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def generate(out_dir, seed, sizes=SIZES):
    """Write every table under out_dir as <table>.parquet/part-NNNNN.parquet;
    returns {table: rows}."""
    root = np.random.SeedSequence(seed)
    streams = dict(zip(sorted(sizes), root.spawn(len(sizes))))
    rows = {}
    for name in sorted(sizes):
        n, files = sizes[name]
        rng = np.random.Generator(np.random.PCG64(streams[name]))
        if name == "lineitem":
            tab = lineitem(rng, n, sizes["orders"][0], max(sizes["orders"][0] // 20, 1))
        elif name == "orders":
            tab = orders(rng, n)
        elif name == "documents":
            tab = documents(rng, n)
        else:
            tab = embeddings(rng, n)
        d = os.path.join(out_dir, name + ".parquet")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        step = -(-n // files)
        for i in range(files):
            pq.write_table(tab.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"))
        rows[name] = n
    return rows
