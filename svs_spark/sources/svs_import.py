"""Import a reference svs SQLite knowledge base into a svs_spark warehouse.

A user of the reference can point this at their existing ``.db`` (or
``.db.gz``, or an http(s) URL — same resolution rules as svs,
``src/svs/util.py:97-187``) and get a warehouse every svs_spark operator
runs against. Schema mapping (reference ``src/svs/kb.py:66-113``):

    docs(id, parent_id, level, text, embedding FK, meta JSON)
        → docs(id, parent_id, level, text, embedding ARRAY<FLOAT>, meta)
          (the FK is resolved by joining embeddings and unpacking the
          little-endian float32 BLOB — ``src/svs/embeddings/util.py:15-23``)
    edges(id, a, b, r, w, d) → edges(edge_id, src, dst, rel, weight,
          directed)
    keyval_user → keyval (typed values preserved)
    keyval (engine-internal: schema_version, created_datetime,
          embedding_func_params) → _meta

Reads stream in chunks through sqlite3 (stdlib) on the driver — the
SQLite file is single-node by construction, so driver-side reading is
not a scale concern; the *write* side produces distributed parquet.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sqlite3
import struct
import tempfile
from typing import Iterator

from pyspark.sql import SparkSession

from svs_spark.kb import (
    DOCS_BUCKETS, DOCS_SCHEMA, EDGES_BUCKETS, EDGES_SCHEMA, KEYVAL_SCHEMA,
    _encode_val,
)
from svs_spark.sources.warehouse import Warehouse, resolve_location

_CHUNK = 50_000


def _resolve_sqlite(path_or_url: str) -> str:
    loc = resolve_location(path_or_url)
    if os.path.isdir(loc):  # remote cache dir: find the payload
        files = [
            f for f in os.listdir(loc)
            if not f.endswith(".gz") and os.path.isfile(os.path.join(loc, f))
        ]
        if len(files) != 1:
            raise ValueError(f"ambiguous remote cache contents: {files}")
        loc = os.path.join(loc, files[0])
    if loc.endswith(".gz"):
        out = os.path.join(
            tempfile.gettempdir(),
            "svs_import_" + os.path.basename(loc)[:-3],
        )
        with gzip.open(loc, "rb") as fin, open(out, "wb") as fout:
            shutil.copyfileobj(fin, fout)
        loc = out
    return loc


def _chunks(cur: sqlite3.Cursor) -> Iterator[list]:
    while True:
        rows = cur.fetchmany(_CHUNK)
        if not rows:
            return
        yield rows


def import_svs_sqlite(
    spark: SparkSession, sqlite_path_or_url: str, warehouse_path: str
) -> None:
    """Convert one svs SQLite KB into a svs_spark warehouse directory."""
    db_file = _resolve_sqlite(sqlite_path_or_url)
    con = sqlite3.connect(db_file)
    con.row_factory = sqlite3.Row
    wh = Warehouse(spark, warehouse_path)
    wh.drop_all()

    # docs ⋈ embeddings with BLOB → float32 list
    cur = con.execute(
        """
        SELECT d.id, d.parent_id, d.level, d.text, e.embedding AS blob,
               d.meta
        FROM docs d LEFT JOIN embeddings e ON d.embedding = e.id
        ORDER BY d.id
        """
    )
    doc_rows = []
    for chunk in _chunks(cur):
        for r in chunk:
            blob = r["blob"]
            vec = (
                list(struct.unpack(f"<{len(blob) // 4}f", blob))
                if blob is not None
                else None
            )
            doc_rows.append(
                (r["id"], r["parent_id"], r["level"], r["text"], vec,
                 r["meta"])
            )
    # docs and edges get the KB's bucketed layout (kb.DOCS_BUCKETS,
    # kb.EDGES_BUCKETS), so point DML is bucket-local from the start
    wh.write_bucketed(
        "docs", spark.createDataFrame(doc_rows, DOCS_SCHEMA), "id", DOCS_BUCKETS
    )

    cur = con.execute("SELECT id, a, b, r, w, d FROM edges ORDER BY id")
    edge_rows = [
        (r["id"], r["a"], r["b"], r["r"], r["w"], bool(r["d"]))
        for chunk in _chunks(cur)
        for r in chunk
    ]
    wh.write_bucketed(
        "edges", spark.createDataFrame(edge_rows, EDGES_SCHEMA), "edge_id",
        EDGES_BUCKETS,
    )

    def kv_rows(table: str) -> list[tuple]:
        out = []
        for r in con.execute(f"SELECT key, val FROM {table} ORDER BY id"):
            t, enc = _encode_val(r["val"])
            out.append((r["key"], t, enc))
        return out

    wh.write("keyval", spark.createDataFrame(kv_rows("keyval_user"), KEYVAL_SCHEMA))
    wh.write("_meta", spark.createDataFrame(kv_rows("keyval"), KEYVAL_SCHEMA))
    con.close()


def export_svs_sqlite(
    spark: SparkSession, warehouse_path: str, out_db: str
) -> None:
    """Export a svs_spark warehouse back to a reference-layout SQLite KB
    (the inverse of import_svs_sqlite) — full round-trip interop: a KB
    built or mutated here opens in the reference library unchanged.

    Vectors re-pack to little-endian float32 BLOBs in a fresh
    ``embeddings`` table with docs.embedding as the FK; rows stream via
    toLocalIterator so the driver never holds a full table.
    """
    if os.path.exists(out_db):
        os.remove(out_db)
    con = sqlite3.connect(out_db)
    # STRICT matters for value fidelity, not just parity with the
    # reference DDL (src/svs/kb.py:68-111): without STRICT a `val ANY`
    # column has NUMERIC affinity and silently coerces numeric-looking
    # STRING keyvals ('123' → integer 123), breaking the lossless
    # round-trip (regression test:
    # tests/test_svs_import.py::test_numeric_looking_string_keyval).
    con.executescript(
        """
        CREATE TABLE keyval (
          id INTEGER PRIMARY KEY, key TEXT NOT NULL UNIQUE, val ANY NOT NULL
        ) STRICT;
        CREATE TABLE keyval_user (
          id INTEGER PRIMARY KEY, key TEXT NOT NULL UNIQUE, val ANY NOT NULL
        ) STRICT;
        CREATE TABLE embeddings (
          id INTEGER PRIMARY KEY, embedding BLOB NOT NULL
        ) STRICT;
        CREATE TABLE docs (
          id INTEGER PRIMARY KEY,
          parent_id INTEGER REFERENCES docs(id),
          level INTEGER NOT NULL,
          text TEXT NOT NULL,
          embedding INTEGER REFERENCES embeddings(id),
          meta TEXT
        ) STRICT;
        CREATE INDEX idx_docs_parent_id ON docs(parent_id);
        CREATE INDEX idx_docs_level ON docs(level);
        CREATE INDEX idx_docs_embedding ON docs(embedding);
        CREATE TABLE edges (
          id INTEGER PRIMARY KEY,
          a INTEGER REFERENCES docs(id) NOT NULL,
          b INTEGER REFERENCES docs(id) NOT NULL,
          r INTEGER REFERENCES docs(id) NOT NULL,
          w REAL,
          d INTEGER NOT NULL
        ) STRICT;
        CREATE UNIQUE INDEX idx_edges_abr ON edges(a, b, r);
        CREATE INDEX idx_edges_a ON edges(a);
        CREATE INDEX idx_edges_b ON edges(b);
        CREATE INDEX idx_edges_r ON edges(r);
        CREATE INDEX idx_edges_d ON edges(d);
        """
    )
    wh = Warehouse(spark, warehouse_path)

    emb_id = 0
    for row in wh.read("docs").orderBy("id").toLocalIterator():
        fk = None
        if row["embedding"] is not None:
            emb_id += 1
            fk = emb_id
            con.execute(
                "INSERT INTO embeddings (id, embedding) VALUES (?, ?)",
                (fk, struct.pack(
                    f"<{len(row['embedding'])}f", *row["embedding"]
                )),
            )
        con.execute(
            "INSERT INTO docs VALUES (?,?,?,?,?,?)",
            (row["id"], row["parent_id"], row["level"], row["text"], fk,
             row["meta"]),
        )
    for row in wh.read("edges").orderBy("edge_id").toLocalIterator():
        con.execute(
            "INSERT INTO edges VALUES (?,?,?,?,?,?)",
            (row["edge_id"], row["src"], row["dst"], row["rel"],
             row["weight"], 1 if row["directed"] else 0),
        )

    from svs_spark.kb import _decode_val

    def dump_kv(table: str, target: str) -> None:
        for row in wh.read(table).orderBy("key").toLocalIterator():
            con.execute(
                f"INSERT INTO {target} (key, val) VALUES (?, ?)",
                (row["key"], _decode_val(row["val_type"], row["val"])),
            )

    dump_kv("keyval", "keyval_user")
    dump_kv("_meta", "keyval")
    con.commit()
    con.close()
