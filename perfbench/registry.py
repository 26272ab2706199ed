"""The registry stage: a frozen list of ``svs_spark.queries`` registry
queries over seeded sf0.1 tables, each checked against its DuckDB
oracle (``svs_spark.queries.oracle_sql``).

It runs as the last stage of the ``corpus_pipeline`` batch job, from the
same cold engine, rather than as a workload of its own: a separate
workload pays another Spark start-up per run, which the run budget of
the benchmark does not leave room for.
"""

from __future__ import annotations

import math
import os

from perfbench import common, gen

# FROZEN. Seven of the first 30 entries of bench.py's HEADLINE list
# (retrieve_topk ... data_profile), one or two per query family, so that
# a cold pass fits the run budget: exact and IVF top-k retrieval, point
# lookup, text dedup and language id, TPC-H-style OLAP and percentiles.
# Later edits to bench.py do not change this list.
QUERIES = (
    "retrieve_topk",
    "doc_point_lookup",
    "dedup_exact",
    "lang_id_counts",
    "ann_ivf_probe",
    "tpch_q1",
    "value_percentiles",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _normalize(val):
    """Value normalisation of tests/test_oracle_parity.py: floats to 6
    decimals, NaN as a string."""
    if isinstance(val, float):
        return "NaN" if math.isnan(val) else round(val, 6)
    return val


def spark_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    cols = sorted(columns)
    return cols, sorted((tuple(_normalize(r[c]) for c in cols) for r in rows), key=repr)


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.sql(sql)
    cols = res.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_normalize(row[i]) for i in order) for row in res.fetchall()]
    return sorted(cols), sorted(rows, key=repr)


def write_tables(sf_dir: str, seed: int, sf: float) -> None:
    """The registry's input tables, one parquet file each."""
    import pyarrow.parquet as pq

    os.makedirs(sf_dir)
    for name, table in gen.registry_tables(seed, sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def builders() -> dict:
    from svs_spark.queries import queries

    registry = queries()
    missing = [q for q in QUERIES if q not in registry]
    if missing:
        raise RuntimeError(f"registry lacks frozen queries: {missing}")
    return {q: registry[q] for q in QUERIES}


def check(tally: common.Tally, sf_dir: str, results: dict, corrupt: bool) -> None:
    """Compare each query's collected (columns, rows) with its oracle."""
    import duckdb

    from svs_spark.queries import oracle_sql

    oracles = oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for q, (columns, rows) in results.items():
            s_cols, s_rows = spark_rows(columns, rows)
            if corrupt and s_rows:
                s_rows = s_rows[1:]
            sql = oracles.get(q)
            if sql is None:
                tally.check(len(s_rows) > 0, f"{q}: returned no rows")
                continue
            d_cols, d_rows = duck_rows(con, sql)
            tally.check(
                s_cols == d_cols and s_rows == d_rows,
                f"{q}: {len(s_rows)} rows vs oracle {len(d_rows)}; first diff "
                f"{next(((a, b) for a, b in zip(s_rows, d_rows) if a != b), None)}",
            )
    finally:
        con.close()
