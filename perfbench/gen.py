"""Seeded input generator for the benchmark.

Writes, from a seed alone, the corpus the registry queries read (the ten
tables of the test corpus: a TPC-H-like star schema plus events, documents
and embeddings, one ``<table>.parquet`` file each, with the same schemas and
value domains) and the raw inputs of the ingest ops:

- ``csv/``: the ``CSV_TABLE`` table as gzip CSV shards, for
  ``sources.prep.convert``;
- ``shards/``: the ``SHARD_TABLE`` table as many small parquet files, for
  ``sources.prep.compact``.

Every value, every shard boundary and the row order of every table come from
the seed, so the same seed gives byte-identical inputs. Foreign keys are
valid by construction (each key is drawn from its parent's key range), which
is the property ``tools/make_scaled_sf.py`` preserves when it replicates a
corpus. The program only ever sees the files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

# Row counts per unit of scale factor, matching the test corpus.
_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
# The tables written as ingest sources: gzip CSV shards and small parquet shards.
CSV_TABLE, SHARD_TABLE = "orders", "events"
_DAY_US = 86_400 * 1_000_000
# epoch microseconds of 1995-01-01 and 2024-01-01
_EPOCH_1995 = 788_918_400 * 1_000_000
_EPOCH_2024 = 1_704_067_200 * 1_000_000


def _n(sf: float, table: str) -> int:
    return max(10, int(round(_PER_SF[table] * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _labels(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def corpus_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten corpus tables at scale factor ``sf``, rows in seeded order."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = _n(sf, "customer"), _n(sf, "supplier"), _n(sf, "part")
    n_ord, n_line, n_ev = _n(sf, "orders"), _n(sf, "lineitem"), _n(sf, "events")
    n_users = _n(sf, "users")
    n_docs = max(500, int(round(50_000 * sf)))
    n_vecs = max(500, int(round(20_000 * sf)))
    i32 = pa.int32()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    ck = np.arange(n_cust)
    t["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _labels(rng, _SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp)
    t["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    names = [f"{c} {n}" for c in _COLORS for n in _NOUNS]
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _labels(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _labels(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _labels(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": _labels(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": _labels(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _labels(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _DAY_US),
        }
    )
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _labels(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs),
            "text": texts,
            "lang": _labels(rng, _LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.normal(size=(n_vecs, 64)) + 0.6 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    # seeded row order: the program must not depend on the order rows arrive
    return {name: tab.take(rng.permutation(tab.num_rows)) for name, tab in t.items()}


def _cuts(rng: np.random.Generator, n_rows: int, n_shards: int) -> list[tuple[int, int]]:
    """Seeded shard boundaries: n_shards non-empty contiguous ranges."""
    inner = np.sort(rng.choice(np.arange(1, n_rows), n_shards - 1, replace=False))
    edges = [0, *inner.tolist(), n_rows]
    return list(zip(edges[:-1], edges[1:]))


def _write_csv_gz(tab: pa.Table, path: str) -> None:
    with pa.CompressedOutputStream(path, "gzip") as fh:
        pcsv.write_csv(tab, fh, pcsv.WriteOptions(include_header=False))


def generate(dest: str, sf: float, seed: int, csv_shards: int, parquet_shards: int) -> None:
    """Write the corpus and the ingest sources under ``dest`` (atomically:
    a partial directory left by a killed run is never mistaken for a
    finished one)."""
    if os.path.exists(os.path.join(dest, "_DONE")):
        return
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "corpus"))
    tables = corpus_tables(sf, seed)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(tmp, "corpus", f"{name}.parquet"))
    rng = np.random.default_rng([seed, 1])
    os.makedirs(os.path.join(tmp, "csv"))
    src = tables[CSV_TABLE]
    for i, (a, b) in enumerate(_cuts(rng, src.num_rows, csv_shards)):
        _write_csv_gz(src.slice(a, b - a), os.path.join(tmp, "csv", f"part-{i:04d}.csv.gz"))
    os.makedirs(os.path.join(tmp, "shards"))
    src = tables[SHARD_TABLE]
    for i, (a, b) in enumerate(_cuts(rng, src.num_rows, parquet_shards)):
        pq.write_table(src.slice(a, b - a), os.path.join(tmp, "shards", f"part-{i:04d}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
