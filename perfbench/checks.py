"""Correctness checks, run after the timed passes and never timed.

A query's result is fetched once and fingerprinted with
``fingerprint.result_fingerprint``; the fingerprint must equal that of the
registry's DuckDB oracle run over the same generated files. A query without
an oracle must return the row count its cold serve returned. A prep output
must hold the same rows as its source: equal row count and equal
order-insensitive content hash, both computed by DuckDB.
"""

from __future__ import annotations

import os

import duckdb

from parquet_storage_query_spark.catalog import SCHEMAS, TABLES, table_path
from parquet_storage_query_spark.fingerprint import result_fingerprint
from parquet_storage_query_spark.registry import resolve_oracle

_DUCKDB_TYPE = {
    "LongType": "BIGINT",
    "IntegerType": "INTEGER",
    "DoubleType": "DOUBLE",
    "StringType": "VARCHAR",
    "TimestampType": "TIMESTAMP",
}


def oracle_connection(corpus: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(corpus, t)}')")
    return con


def check_query(con, qd, df, corpus: str, cold_rows: int) -> str | None:
    """None when ``df``, the DataFrame a serve of ``qd`` returned, holds the
    right answer, else what is wrong."""
    got = result_fingerprint(df.columns, [tuple(r) for r in df.collect()])
    if qd.oracle is None:
        return None if got[0] == cold_rows else f"{got[0]} rows, cold serve gave {cold_rows}"
    cur = con.execute(resolve_oracle(qd.oracle, corpus))
    want = result_fingerprint([d[0] for d in cur.description], cur.fetchall())
    return None if got == want else f"fingerprint {got} != oracle {want}"


def _content(con, relation: str, columns: list[str]) -> tuple[int, int]:
    cols = ", ".join(columns)
    return con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM {relation}"
    ).fetchone()


def check_convert(con, src_dir: str, dest: str, table: str) -> str | None:
    """The CSV shards are read with the catalog schema ``convert`` was given."""
    fields = SCHEMAS[table].fields
    cols = ", ".join(f"'{f.name}': '{_DUCKDB_TYPE[type(f.dataType).__name__]}'" for f in fields)
    src = f"read_csv('{src_dir}/*.csv.gz', header=false, columns={{{cols}}})"
    names = [f.name for f in fields]
    want = _content(con, src, names)
    got = _content(con, f"read_parquet('{dest}/*.parquet')", names)
    return None if got == want else f"convert output {got} != source {want}"


def check_compact(con, src_dir: str, dest: str) -> str | None:
    names = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src_dir}/*.parquet')").fetchall()
    columns = [r[0] for r in names]
    want = _content(con, f"read_parquet('{src_dir}/*.parquet')", columns)
    got = _content(con, f"read_parquet('{dest}/*.parquet')", columns)
    return None if got == want else f"compact output {got} != source {want}"


def parquet_bytes(folder: str) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under a folder."""
    files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(folder)
        for f in fs
        if f.endswith((".parquet", ".csv.gz")) and not f.startswith((".", "_"))
    ]
    return len(files), sum(os.path.getsize(f) for f in files)
