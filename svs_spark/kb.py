"""KnowledgeBase: the reference's full API surface, Spark-first.

Reproduces Rhobota/svs ``KB`` (``src/svs/kb.py:1410-1799``) over a
warehouse of parquet tables instead of one SQLite file:

=====================  =========================================
svs                    svs_spark
=====================  =========================================
SQLite file            Warehouse directory (docs/edges/keyval/_meta)
docs table             docs: id, parent_id, level, text,
                       embedding ARRAY<FLOAT>, meta (JSON string)
embeddings table+FK    nullable embedding column on docs (the FK
                       existed only for no-vector rows + matrix scans)
edges table            edges: edge_id, src, dst, rel, weight, directed
keyval/keyval_user     keyval: key, plus typed value columns
NumPy matrix cache     persist() on the docs DataFrame
asyncio lock           Spark's distributed execution (the reference's
                       serial lock is its scalability ceiling, §4)
=====================  =========================================

Every table gets its final layout when the KB opens, as the reference
creates its tables at open (``_TABLE_DEFS``, ``kb.py:66-113``): docs
and edges are bucketed from creation (``DOCS_BUCKETS``,
``EDGES_BUCKETS``), so each mutation rewrites only the buckets it
touches. Bulk contexts commit as one atomic write each — the moral
equivalent of the reference's BEGIN/COMMIT transaction per bulk
(``kb.py:794-829``). The async/sync API duality is deliberately not
ported (no query semantics in it; SURVEY.md §7).
"""

from __future__ import annotations

import base64
import datetime
import json
import warnings
from contextlib import contextmanager
from typing import Any, Iterator, List, Optional

from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, FloatType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from svs_spark.functions.embeddings import (
    EmbeddingFunc,
    embed_df,
    make_embeddings_func,
    with_magnitude_check,
)
from svs_spark.sources.warehouse import Warehouse, resolve_location

SCHEMA_VERSION = 1  # kb.py:64

# docs bucket count for point-update locality: a single-doc mutation
# rewrites 1/DOCS_BUCKETS of the table (bucket chosen by pmod(id, n)),
# not all of it.  At 100 TB you would raise this into the thousands so
# each bucket is a few files; the layout and call sites are the same.
DOCS_BUCKETS = 16

# same point-update locality for the edges table: keyed by edge_id, so a
# point del_edge/add_edge rewrites 1/EDGES_BUCKETS of the table. The
# (src, dst, rel) uniqueness probe stays a pushed-down predicate scan
# (its key is not the bucket key), which is bounded work either way.
EDGES_BUCKETS = 16

DOCS_SCHEMA = StructType([
    StructField("id", LongType(), False),
    StructField("parent_id", LongType(), True),
    StructField("level", IntegerType(), False),
    StructField("text", StringType(), False),
    StructField("embedding", ArrayType(FloatType()), True),
    StructField("meta", StringType(), True),
])

EDGES_SCHEMA = StructType([
    StructField("edge_id", LongType(), False),
    StructField("src", LongType(), False),
    StructField("dst", LongType(), False),
    StructField("rel", LongType(), False),
    StructField("weight", DoubleType(), True),
    StructField("directed", BooleanType(), False),
])

# keyval values keep their primitive type (SQLite ANY under STRICT —
# kb.py:74-78, tested tests/test_kb.py:52-66): a type tag + JSON/base64.
KEYVAL_SCHEMA = StructType([
    StructField("key", StringType(), False),
    StructField("val_type", StringType(), False),
    StructField("val", StringType(), False),
])

_MISSING = object()


def _encode_val(val: Any) -> tuple[str, str]:
    if isinstance(val, bool):
        raise ValueError("bool keyval values are not supported")
    if isinstance(val, int):
        return "int", json.dumps(val)
    if isinstance(val, float):
        return "float", json.dumps(val)
    if isinstance(val, str):
        return "str", val
    if isinstance(val, bytes):
        return "bytes", base64.b64encode(val).decode()
    raise ValueError(f"unsupported keyval type: {type(val)!r}")


def _decode_val(val_type: str, val: str) -> Any:
    if val_type == "int":
        return int(val)
    if val_type == "float":
        return float(val)
    if val_type == "str":
        return val
    if val_type == "bytes":
        return base64.b64decode(val)
    raise ValueError(f"unknown keyval type tag: {val_type!r}")


class KnowledgeBase:
    """Open (or create) a knowledge base at ``path_or_url``.

    Parity: ``KB.__init__`` (kb.py:1410-1435) including remote/gz
    resolution and the embedding-config persistence semantics
    (kb.py:896-922): params are stored on first use, rebuilt on reopen,
    an explicit func overrides stored params with a warning, and
    no-func + no-stored-params is an error.
    """

    def __init__(
        self,
        spark: SparkSession,
        path_or_url: str,
        embedding_func: Optional[EmbeddingFunc] = None,
        embedding_params: Optional[dict] = None,
        force_fresh_db: bool = False,
    ):
        self.spark = spark
        root = resolve_location(path_or_url)
        self.wh = Warehouse(spark, root)
        if force_fresh_db:
            self.wh.drop_all()
        self._cached_docs: Optional[DataFrame] = None
        self._init_meta(embedding_func, embedding_params)

    # -- lifecycle (S1-S5) --------------------------------------------------

    def _init_meta(
        self,
        embedding_func: Optional[EmbeddingFunc],
        embedding_params: Optional[dict],
    ) -> None:
        meta = {}
        if self.wh.exists("_meta"):
            meta = {
                r["key"]: _decode_val(r["val_type"], r["val"])
                for r in self.wh.read("_meta").collect()
            }
            stored_version = meta.get("schema_version")
            if stored_version != SCHEMA_VERSION:
                raise RuntimeError(
                    f"schema version mismatch: {stored_version} != {SCHEMA_VERSION}"
                )
        stored_params = (
            json.loads(meta["embedding_func_params"])
            if "embedding_func_params" in meta
            else None
        )
        if embedding_func is not None:
            if stored_params is not None:
                # explicit func overrides stored config (kb.py:912-917)
                warnings.warn(
                    "explicit embedding_func overrides stored params",
                    stacklevel=3,
                )
            self.embedding_func = with_magnitude_check(embedding_func)
            params_to_store = embedding_params or {"provider": "custom"}
        elif embedding_params is not None:
            self.embedding_func = with_magnitude_check(
                make_embeddings_func(embedding_params)
            )
            params_to_store = embedding_params
        elif stored_params is not None:
            self.embedding_func = with_magnitude_check(
                make_embeddings_func(stored_params)
            )
            params_to_store = stored_params
        else:
            raise ValueError(
                "no embedding function given and none stored in the KB"
            )
        if not meta:
            meta = {
                "schema_version": SCHEMA_VERSION,
                "created_datetime": datetime.datetime.now(
                    datetime.timezone.utc
                ).isoformat(),
            }
        meta["embedding_func_params"] = json.dumps(params_to_store)
        self._write_kv("_meta", meta)
        # docs and edges are bucketed from creation; a table written
        # plain or with another bucket count (older warehouses) is
        # converted here, once
        self.wh.ensure_bucketed("docs", DOCS_SCHEMA, "id", DOCS_BUCKETS)
        self.wh.ensure_bucketed("edges", EDGES_SCHEMA, "edge_id", EDGES_BUCKETS)
        if not self.wh.exists("keyval"):
            self.wh.write("keyval", self.spark.createDataFrame([], KEYVAL_SCHEMA))

    def _write_kv(self, table: str, kv: dict) -> None:
        rows = []
        for k, v in kv.items():
            t, enc = _encode_val(v)
            rows.append((k, t, enc))
        self.wh.write(
            table, self.spark.createDataFrame(rows, KEYVAL_SCHEMA)
        )

    def close(self, vacuum: bool = False, also_gzip: bool = False) -> None:
        """kb.py:1437-1464: optional VACUUM (compaction) + gzip export."""
        if vacuum:
            for t in ("docs", "edges", "keyval", "_meta"):
                self.wh.compact(t)
        if also_gzip:
            self.wh.export_gzip(self.wh.root + "_gzip_export")
        self._invalidate()

    def load(self) -> None:
        """Warm the vector cache (kb.py:964-967): persist + materialize —
        Spark's columnar cache replaces the reference's RAM matrix."""
        self.docs.persist()
        self.docs.count()

    # -- cached docs view (the _EmbeddingsMatrix analogue, kb.py:856-893) ---

    @property
    def docs(self) -> DataFrame:
        if self._cached_docs is None:
            self._cached_docs = self.wh.read("docs")
        return self._cached_docs

    @property
    def edges(self) -> DataFrame:
        return self.wh.read("edges")

    def _invalidate(self) -> None:
        if self._cached_docs is not None:
            self._cached_docs.unpersist()
        self._cached_docs = None

    # -- counts (Q1) ----------------------------------------------------------

    def count(self) -> int:
        return self.docs.count()

    def __len__(self) -> int:
        return self.count()

    def count_edges(self) -> int:
        return self.edges.count()

    # -- docs write paths: bucketed point-update locality ---------------------

    def _append_docs(self, new_df: DataFrame) -> None:
        """Append new doc rows touching only their hash buckets: rows
        hitting k buckets rewrite k/DOCS_BUCKETS of the table — a single
        add_doc touches ONE bucket.

        The rows are persisted first and the distinct-bucket probe
        (≤ DOCS_BUCKETS rows collected, never data) materializes that
        cache, so the embedding provider runs exactly once per doc
        although the probe and the bucket write both read the rows."""
        staged = new_df.select(
            "id", "parent_id", "level", "text",
            F.col("embedding").cast(ArrayType(FloatType())).alias("embedding"),
            "meta",
        ).persist()
        try:
            pbs = [
                r[0]
                for r in staged.select(
                    F.pmod(F.col("id"), F.lit(DOCS_BUCKETS)).cast("int")
                ).distinct().collect()
            ]
            if pbs:
                post = self.wh.read_buckets("docs", pbs).unionByName(staged)
                self.wh.overwrite_buckets("docs", pbs, post)
        finally:
            staged.unpersist()
        self._invalidate()

    def _point_update_docs(self, doc_id: int, column: str, value) -> None:
        """Rewrite exactly one doc's column, touching only its bucket."""
        pb = Warehouse.bucket_of(doc_id, DOCS_BUCKETS)
        bucket = self.wh.read_buckets("docs", [pb])
        if bucket.filter(F.col("id") == doc_id).first() is None:
            raise ValueError(f"no such doc: {doc_id}")
        patched = bucket.withColumn(
            column,
            F.when(F.col("id") == doc_id, value).otherwise(F.col(column)),
        )
        self.wh.overwrite_buckets("docs", [pb], patched)
        self._invalidate()

    # -- DML: bulk add (M1) ---------------------------------------------------

    @contextmanager
    def bulk_add_docs(self):
        """Transactional bulk insert (kb.py:1486-1524): level computed
        from the parent (pending or stored), embeddings backfilled in
        chunks on exit, the whole context committed as ONE atomic write."""
        pending: list[dict] = []
        known_levels: dict[int, int] = {}
        next_id = (self.docs.agg(F.max("id")).first()[0] or 0) + 1
        counter = [next_id]

        def add_doc(
            text: str,
            parent_id: Optional[int] = None,
            meta: Optional[dict] = None,
            no_embedding: bool = False,
        ) -> int:
            if parent_id is None:
                level = 0
            elif parent_id in known_levels:
                level = known_levels[parent_id] + 1
            else:
                row = self.docs.filter(F.col("id") == parent_id).select(
                    "level"
                ).first()
                if row is None:
                    raise ValueError(f"invalid parent_id: {parent_id}")
                known_levels[parent_id] = row[0]
                level = row[0] + 1
            doc_id = counter[0]
            counter[0] += 1
            known_levels[doc_id] = level
            pending.append(
                {
                    "id": doc_id,
                    "parent_id": parent_id,
                    "level": level,
                    "text": text,
                    "no_embedding": no_embedding,
                    "meta": json.dumps(meta) if meta is not None else None,
                }
            )
            return doc_id

        yield add_doc

        if not pending:
            return
        new_rows = self.spark.createDataFrame(
            [
                (p["id"], p["parent_id"], p["level"], p["text"], p["meta"],
                 p["no_embedding"])
                for p in pending
            ],
            StructType([
                StructField("id", LongType(), False),
                StructField("parent_id", LongType(), True),
                StructField("level", IntegerType(), False),
                StructField("text", StringType(), False),
                StructField("meta", StringType(), True),
                StructField("no_embedding", BooleanType(), False),
            ]),
        )
        to_embed = new_rows.filter(~F.col("no_embedding")).drop("no_embedding")
        skipped = (
            new_rows.filter(F.col("no_embedding"))
            .drop("no_embedding")
            .withColumn("embedding", F.lit(None).cast(ArrayType(FloatType())))
        )
        # the magnitude guard runs inside embed: self.embedding_func is
        # wrapped with it at open
        embedded = embed_df(to_embed, self.embedding_func, check=False)
        self._append_docs(embedded.unionByName(skipped))

    def add_doc(self, text: str, parent_id: Optional[int] = None,
                meta: Optional[dict] = None, no_embedding: bool = False) -> int:
        with self.bulk_add_docs() as add:
            return add(text, parent_id=parent_id, meta=meta,
                       no_embedding=no_embedding)

    def add_documents_df(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: Optional[str] = "doc_id",
        meta_json_col: Optional[str] = None,
        no_embedding: bool = False,
    ) -> int:
        """Distributed bulk ingest: add every row of ``df`` as a root
        document (level 0, no parent), embeddings computed by the
        chunked Arrow UDF pipeline, committed as one atomic write.

        This is the 100 TB ingest path the reference cannot express —
        its ``bulk_add_docs`` iterates rows on the driver
        (``src/svs/kb.py:1486-1524``); here the whole frame (e.g. from
        ``sources.corpus.ingest_jsonl``) stays distributed end-to-end.
        Ids: ``id_col`` if given (corpus xxhash64 ids pass through),
        else xxhash64(text); collisions with existing doc ids raise
        before anything is written. Returns the number of docs added.
        """
        idc = (
            F.col(id_col).cast("long")
            if id_col is not None and id_col in df.columns
            else F.xxhash64(F.col(text_col))
        )
        metac = (
            F.col(meta_json_col).cast("string")
            if meta_json_col is not None
            else F.lit(None).cast("string")
        )
        new_rows = (
            df.select(
                idc.alias("id"),
                F.lit(None).cast(LongType()).alias("parent_id"),
                F.lit(0).cast(IntegerType()).alias("level"),
                F.col(text_col).cast("string").alias("text"),
                metac.alias("meta"),
            )
            .filter(F.col("text").isNotNull())
            .dropDuplicates(["id"])
        )
        clash = self.docs.join(
            new_rows.select("id"), on="id", how="left_semi"
        ).count()
        if clash:
            raise ValueError(f"{clash} incoming doc ids already exist")
        n_new = new_rows.count()
        if no_embedding:
            staged = new_rows.withColumn(
                "embedding", F.lit(None).cast(ArrayType(FloatType()))
            )
        else:
            staged = embed_df(new_rows, self.embedding_func, check=False)
        self._append_docs(staged)
        return n_new

    def add_chunked_documents_df(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: Optional[str] = "doc_id",
        chunk_size: int = 500,
        chunk_stride: int = 400,
        no_embedding: bool = False,
    ) -> tuple[int, int]:
        """Distributed hierarchical ingest — the reference's
        chunk-into-children pattern (a parent document whose
        overlapping chunks are its level-1 children, built row-by-row
        on the driver via ``bulk_add_docs(parent_id=...)`` in the
        reference, kb.py:1486-1524) as ONE distributed plan: every
        input row becomes a level-0 parent (container — no embedding,
        the reference's hierarchy examples retrieve over chunks and
        traverse up), its character windows become level-1 children
        with ``parent_id`` set, and only the chunks go through the
        chunked Arrow embedding pipeline. Child ids are
        ``xxhash64(parent_id, '#', chunk_idx)``; both generations are
        clash-checked against the store before anything is written and
        the append is one atomic bucketed write. Returns
        ``(n_parents, n_chunks)``.

        Scale shape: chunking is scan-stage codegen
        (``operators/chunking.chunk_text_df``); the only exchanges are
        the id-clash left-semi probe and the bucketed append itself.
        """
        from svs_spark.operators.chunking import chunk_text_df

        idc = (
            F.col(id_col).cast("long")
            if id_col is not None and id_col in df.columns
            else F.xxhash64(F.col(text_col))
        )
        base = (
            df.select(idc.alias("id"), F.col(text_col).cast("string").alias("text"))
            .filter(F.col("text").isNotNull())
            .dropDuplicates(["id"])
        )
        parents = base.select(
            "id",
            F.lit(None).cast(LongType()).alias("parent_id"),
            F.lit(0).cast(IntegerType()).alias("level"),
            "text",
            F.lit(None).cast(ArrayType(FloatType())).alias("embedding"),
            F.lit(None).cast("string").alias("meta"),
        )
        chunks_pre = chunk_text_df(
            base, text_col="text", id_col="id",
            size=chunk_size, stride=chunk_stride,
        ).select(
            F.xxhash64(
                F.concat_ws("#", F.col("parent_id"), F.col("chunk_idx"))
            ).alias("id"),
            F.col("parent_id"),
            F.lit(1).cast(IntegerType()).alias("level"),
            F.col("chunk_text").alias("text"),
            F.lit(None).cast("string").alias("meta"),
        )
        # Chunk ids are pure functions of (parent_id, chunk_idx), so every
        # validation runs on the PRE-embedding frame — the embedding
        # provider is never invoked for a batch that will be rejected.
        all_ids = parents.select("id").unionAll(chunks_pre.select("id"))
        clash = self.docs.join(all_ids, on="id", how="left_semi").count()
        if clash:
            raise ValueError(f"{clash} incoming doc ids already exist")
        n_parents = parents.count()
        n_chunks = chunks_pre.count()
        if all_ids.distinct().count() != n_parents + n_chunks:
            raise ValueError("chunk id collision within the ingest batch")
        if no_embedding:
            chunks = chunks_pre.withColumn(
                "embedding", F.lit(None).cast(ArrayType(FloatType()))
            )
        else:
            chunks = embed_df(chunks_pre, self.embedding_func, check=False)
        self._append_docs(parents.unionByName(chunks))
        return n_parents, n_chunks

    # -- DML: bulk delete (M2) -------------------------------------------------

    @contextmanager
    def bulk_del_docs(self):
        """Transactional delete (kb.py:1526-1542) with the reference's
        order-sensitive parent guard (kb.py:360-414): deleting a doc that
        still has a child at that point in the sequence raises; edges
        touching a deleted doc (as src, dst, or rel) cascade.

        Scale note: the two collects below are bounded by the *deletion
        batch* (ids filtered by IN-list, children filtered by parent IN
        deleted-ids — pushdown predicates, results ≤ batch × fan-out),
        never by table size; the guard itself is inherently sequential
        (delete order matters), which is why it runs on the driver over
        that bounded set."""
        deletions: list[int] = []

        def del_doc(doc_id: int) -> None:
            deletions.append(doc_id)

        yield del_doc

        if not deletions:
            return
        ids = set(deletions)
        existing = {
            r["id"]
            for r in self.docs.filter(F.col("id").isin(list(ids)))
            .select("id").collect()
        }
        children = (
            self.docs.filter(F.col("parent_id").isin(list(ids)))
            .select("id", "parent_id")
            .collect()
        )
        kids_by_parent: dict[int, set] = {}
        for r in children:
            kids_by_parent.setdefault(r["parent_id"], set()).add(r["id"])
        removed: set = set()
        for doc_id in deletions:
            if doc_id not in existing or doc_id in removed:
                raise ValueError(f"no such doc: {doc_id}")
            live_kids = kids_by_parent.get(doc_id, set()) - removed
            if live_kids:
                raise RuntimeError(
                    f"cannot delete doc {doc_id}: it is a parent of {sorted(live_kids)}"
                )
            removed.add(doc_id)
        id_list = list(removed)
        # rewrite only the deleted ids' buckets (1..k of n, pruned read)
        pbs = sorted({Warehouse.bucket_of(i, DOCS_BUCKETS) for i in id_list})
        post = self.wh.read_buckets("docs", pbs).filter(
            ~F.col("id").isin(id_list)
        )
        self.wh.overwrite_buckets("docs", pbs, post)
        cascade_pred = (
            F.col("src").isin(id_list)
            | F.col("dst").isin(id_list)
            | F.col("rel").isin(id_list)
        )
        # the cascade predicate keys on src/dst/rel, not the bucket key,
        # so finding victims needs a full scan — but the WRITE doesn't:
        # collect the (≤ EDGES_BUCKETS) distinct buckets of matching
        # edges and rewrite only those. A delete with no incident edges
        # rewrites nothing.
        touched = [
            r[0]
            for r in self.edges.filter(cascade_pred)
            .select(F.pmod(F.col("edge_id"), F.lit(EDGES_BUCKETS)).cast("int"))
            .distinct()
            .collect()
        ]
        if touched:
            post = self.wh.read_buckets("edges", touched).filter(
                ~cascade_pred
            )
            self.wh.overwrite_buckets("edges", touched, post)
        self._invalidate()

    def del_doc(self, doc_id: int) -> None:
        with self.bulk_del_docs() as dd:
            dd(doc_id)

    # -- DML: meta + embedding update (M3, M4) ---------------------------------

    def update_doc_meta(self, doc_id: int, new_meta: Optional[dict]) -> None:
        """kb.py:347-358: replace (or NULL) one doc's JSON meta —
        rewrites only the doc's hash bucket (1/DOCS_BUCKETS of the
        table), not the whole table."""
        enc = json.dumps(new_meta) if new_meta is not None else None
        self._point_update_docs(doc_id, "meta", F.lit(enc))

    def set_doc_embedding(
        self, doc_id: int, embedding: Optional[List[float]]
    ) -> None:
        """kb.py:526-571: replace one doc's vector — bucket-local
        rewrite like update_doc_meta."""
        lit = (
            F.array(*[F.lit(float(x)) for x in embedding]).cast(
                ArrayType(FloatType())
            )
            if embedding is not None
            else F.lit(None).cast(ArrayType(FloatType()))
        )
        self._point_update_docs(doc_id, "embedding", lit)

    # -- queries (Q2-Q6) --------------------------------------------------------

    @staticmethod
    def _to_record(row: Row, include_embedding: bool) -> dict:
        emb: Any
        if include_embedding:
            emb = list(row["embedding"]) if row["embedding"] is not None else None
        else:
            emb = row["embedding"] is not None  # tri-state bool (kb.py:442-473)
        return {
            "id": row["id"],
            "parent_id": row["parent_id"],
            "level": row["level"],
            "text": row["text"],
            "embedding": emb,
            "meta": json.loads(row["meta"]) if row["meta"] is not None else None,
        }

    def _point_read(self, doc_id: int):
        """Point lookup routed through the bucketed layout: the partition
        filter prunes the scan to 1/DOCS_BUCKETS of the table (plus
        parquet row-group min/max pruning on id inside the bucket)."""
        bucket = self.wh.read_buckets(
            "docs", [Warehouse.bucket_of(doc_id, DOCS_BUCKETS)]
        )
        return bucket.filter(F.col("id") == doc_id).first()

    def query_doc(self, doc_id: int, include_embedding: bool = False) -> dict:
        row = self._point_read(doc_id)
        if row is None:
            raise KeyError(f"no such doc: {doc_id}")
        return self._to_record(row, include_embedding)

    def query_children(
        self, doc_id: int, include_embedding: bool = False
    ) -> List[dict]:
        rows = (
            self.docs.filter(F.col("parent_id") == doc_id)
            .orderBy("id")
            .collect()
        )
        return [self._to_record(r, include_embedding) for r in rows]

    def query_level(
        self, level: int, include_embedding: bool = False
    ) -> List[dict]:
        rows = self.docs.filter(F.col("level") == level).orderBy("id").collect()
        return [self._to_record(r, include_embedding) for r in rows]

    @staticmethod
    def _ord_id(col: F.Column) -> F.Column:
        """Order-preserving string form of a signed 64-bit id: id + 2^63
        in DECIMAL(20,0), zero-padded to 20 digits — lexicographic order
        equals numeric order for EVERY long, including the negative
        xxhash64 ids produced by add_documents_df/corpus ingest.  (A
        plain lpad(id, 12) truncates >12-digit ids and sorts negatives
        after positives — ADVICE r1.)"""
        import decimal

        shifted = col.cast("decimal(20,0)") + F.lit(decimal.Decimal(2**63))
        return F.lpad(shifted.cast("decimal(20,0)").cast("string"), 20, "0")

    def dfs_traversal(self, include_embedding: bool = False) -> List[dict]:
        """kb.py:1580-1593 golden order (tests/test_kb.py:1117-1153):
        roots ascending, children ascending, depth-first. Iterative
        frontier expansion building a zero-padded path, then one sort."""
        frontier = self.docs.filter(F.col("parent_id").isNull()).select(
            F.col("id").alias("cur"),
            self._ord_id(F.col("id")).alias("path"),
        )
        # localCheckpoint per level: truncates the iterated lineage so
        # deep hierarchies don't nest plans exponentially (same fix as
        # operators.dedup.connected_components)
        frontier = frontier.localCheckpoint()
        paths = frontier
        while frontier.limit(1).count() > 0:
            frontier = (
                self.docs.alias("d")
                .join(frontier.alias("f"), F.col("d.parent_id") == F.col("f.cur"))
                .select(
                    F.col("d.id").alias("cur"),
                    F.concat_ws(
                        "/",
                        F.col("f.path"),
                        self._ord_id(F.col("d.id")),
                    ).alias("path"),
                )
                .localCheckpoint()
            )
            paths = paths.unionByName(frontier)
        ordered = (
            self.docs.alias("d")
            .join(paths.alias("p"), F.col("d.id") == F.col("p.cur"))
            .orderBy("p.path")
            .select("d.*")
            .collect()
        )
        return [self._to_record(r, include_embedding) for r in ordered]

    def fetch_doc_with_emb_id(self, doc_id: int) -> dict:
        """Q5 reverse-FK parity (kb.py:511-524) — with the vector stored
        inline, the embedding id IS the doc id."""
        return self.query_doc(doc_id, include_embedding=True)

    # -- similarity (V1-V4) -------------------------------------------------------

    def retrieve(self, query: str, n: int) -> List[dict]:
        """kb.py:1608-1640: embed query → brute-force cosine top-n →
        fetch winner docs. Scoring/top-k runs distributed (see
        operators.similarity.retrieve_topk scale notes)."""
        from svs_spark.operators.similarity import retrieve_topk

        qvec = self.embedding_func([query])[0]
        emb = self.docs.filter(F.col("embedding").isNotNull())
        winners = retrieve_topk(emb, qvec, n, id_col="id", vec_col="embedding")
        rows = (
            self.docs.alias("d")
            .join(F.broadcast(winners.alias("w")), F.col("d.id") == F.col("w.id"))
            .select("d.*", F.col("w.score"))
            .orderBy(F.desc("score"), F.desc("d.id"))
            .collect()
        )
        return [
            {"score": r["score"], "doc": self._to_record(r, False)}
            for r in rows
        ]

    def document_top_pairwise_scores(
        self, n: int
    ) -> List[tuple[float, dict, dict]]:
        """kb.py:1642-1671: top-n pairs from the strict upper triangle."""
        from svs_spark.operators.similarity import block_pairwise_topk

        emb = self.docs.filter(F.col("embedding").isNotNull())
        pairs = block_pairwise_topk(
            emb, n, id_col="id", vec_col="embedding", round_decimals=None
        ).collect()
        docs_by_id = {
            r["id"]: self._to_record(r, False)
            for r in self.docs.filter(
                F.col("id").isin(
                    [p["id_a"] for p in pairs] + [p["id_b"] for p in pairs]
                )
            ).collect()
        }
        return [
            (p["score"], docs_by_id[p["id_a"]], docs_by_id[p["id_b"]])
            for p in pairs
        ]

    # -- graph (G1-G6) ---------------------------------------------------------

    def _collect_found(self, df: DataFrame, cols: list, values: list) -> set:
        """One bounded job: which of ``values`` (tuples over ``cols``)
        exist in ``df``. ≤64 single-column values go through an ``isin``
        filter (pushes to the parquet scan — point-lookup friendly);
        larger or composite batches broadcast-semi-join a local
        DataFrame (an ``isin`` of 100k ids is a 100k-node expression
        tree; a conjunction-OR over key triples is worse)."""
        if not values:
            return set()
        if len(cols) == 1 and len(values) <= 64:
            rows = (
                df.filter(F.col(cols[0]).isin([v[0] for v in values]))
                .select(*cols).distinct().collect()
            )
        else:
            probe = self.spark.createDataFrame(values, cols)
            rows = (
                df.join(F.broadcast(probe), on=cols, how="left_semi")
                .select(*cols).distinct().collect()
            )
        return {tuple(r) for r in rows}

    @contextmanager
    def bulk_graph_update(self, eager_validation: bool = False):
        """kb.py:1673-1729: transactional edge mutations with (src, dst,
        rel) uniqueness (kb.py:650-651) — duplicates raise RuntimeError,
        missing endpoint/relationship docs ValueError, missing del ids
        ValueError.

        **Deferred-raise contract (deliberate divergence from the
        reference):** by default, only the in-bulk duplicate check runs
        at call time; every persisted-state violation (duplicate
        against stored edges, missing doc, missing del id) raises at
        context-manager EXIT, before anything is written — the whole
        bulk is then discarded. The reference raises at each call
        (reference kb.py:651/670), so callers that catch per-call
        errors to skip bad edges and keep the rest must pass
        ``eager_validation=True``: every call then validates against
        persisted state immediately (reference-parity semantics, at the
        cost of per-call lookup jobs — use only for small bulks).
        "First violation wins" is exact under eager validation; under
        deferred validation the commit REPLAYS the calls in order (so
        among staged ops the earliest violation raises first), with one
        caveat: a call-time in-bulk-duplicate error still fires before
        an EARLIER op's persisted-state violation is discovered at
        exit.

        Scale shape: calls only stage ops in a driver-side buffer (the
        single per-call check — duplicate key within this bulk — is
        pure memory); ALL persisted-state validation happens once at
        commit with three bounded jobs (edge-key semi-join, doc-FK
        semi-join, del-id bucket-pruned lookup), then the original
        sequential semantics are REPLAYED in memory against the
        prefetched answers — first violation wins, exactly as if each
        call had validated eagerly (including adds later rolled back by
        an in-bulk del: sequential execution errors before the del can
        save them). A 100k-edge bulk is 3 validation jobs, not 100k
        per-edge ``isEmpty`` jobs (round-3 verdict #1). The commit
        itself is a single del-filter + union write (atomic via the
        warehouse swap); on any validation error nothing is written.
        """
        [max_id] = self.edges.agg(F.max("edge_id")).first()
        start_eid = (max_id or 0) + 1
        counter = [start_eid]
        # ops replayed at commit: ("add", eid, src, dst, rel, w, directed)
        # or ("del", edge_id)
        ops: list[tuple] = []
        batch_keys: dict[tuple, int] = {}  # live in-bulk adds, call-time dup gate
        # eager-mode state: docs verified present, keys of persisted
        # edges deleted in this bulk, persisted ids already deleted
        eager_docs_ok: set[int] = set()
        eager_del_keys: set[tuple] = set()
        eager_dels: set[int] = set()

        def _add(src: int, dst: int, rel: int, weight: Optional[float],
                 directed: bool) -> int:
            key = (src, dst, rel)
            if key in batch_keys:
                raise RuntimeError(
                    f"edge ({src}, {dst}, {rel}) already exists"
                )
            if eager_validation:
                for i in (src, dst, rel):
                    if i not in eager_docs_ok:
                        if not self._collect_found(
                            self.docs, ["id"], [(i,)]
                        ):
                            raise ValueError(f"no such doc: {i}")
                        eager_docs_ok.add(i)
                if key not in eager_del_keys and self._collect_found(
                    self.edges, ["src", "dst", "rel"], [key]
                ):
                    raise RuntimeError(
                        f"edge ({src}, {dst}, {rel}) already exists"
                    )
                eager_del_keys.discard(key)
            eid = counter[0]
            counter[0] += 1
            batch_keys[key] = eid
            ops.append(("add", eid, src, dst, rel, weight, directed))
            return eid

        def _del(edge_id: int) -> None:
            # rolling back an in-bulk add frees its key for later adds
            # in THIS bulk; the op itself still replays (a rolled-back
            # add must still fail validation the way sequential
            # execution would have)
            if eager_validation:
                if edge_id >= start_eid:
                    if edge_id not in batch_keys.values():
                        raise ValueError(f"no such edge: [{edge_id}]")
                else:
                    if edge_id in eager_dels:
                        raise ValueError(f"no such edge: [{edge_id}]")
                    row = (
                        self.edges.filter(F.col("edge_id") == edge_id)
                        .select("src", "dst", "rel")
                        .first()
                    )
                    if row is None:
                        raise ValueError(f"no such edge: [{edge_id}]")
                    eager_dels.add(edge_id)
                    eager_del_keys.add((row["src"], row["dst"], row["rel"]))
            for key, eid in list(batch_keys.items()):
                if eid == edge_id:
                    del batch_keys[key]
                    break
            ops.append(("del", edge_id))

        class GraphUpdater:
            def add_edge(self, doc1: int, doc2: int, relationship: int,
                         weight: Optional[float] = None) -> int:
                return _add(doc1, doc2, relationship, weight, False)

            def add_directed_edge(self, from_doc: int, to_doc: int,
                                  relationship: int,
                                  weight: Optional[float] = None) -> int:
                return _add(from_doc, to_doc, relationship, weight, True)

            def del_edge(self, edge_id: int) -> None:
                _del(edge_id)

        yield GraphUpdater()

        if not ops:
            return

        # -- batched prefetch: three bounded jobs ----------------------
        need_keys = sorted(
            {(op[2], op[3], op[4]) for op in ops if op[0] == "add"}
        )
        need_docs = sorted(
            {i for op in ops if op[0] == "add" for i in op[2:5]}
        )
        persisted_keys = self._collect_found(
            self.edges, ["src", "dst", "rel"], need_keys
        )
        found_docs = {
            t[0]
            for t in self._collect_found(
                self.docs, ["id"], [(i,) for i in need_docs]
            )
        }
        persisted_del_ids = sorted(
            {op[1] for op in ops if op[0] == "del" and op[1] < start_eid}
        )
        del_src = self.wh.read_buckets(
            "edges",
            sorted(
                {Warehouse.bucket_of(e, EDGES_BUCKETS) for e in persisted_del_ids}
            ),
        )
        del_map = (
            {
                r["edge_id"]: (r["src"], r["dst"], r["rel"])
                for r in del_src.join(
                    F.broadcast(
                        self.spark.createDataFrame(
                            [(e,) for e in persisted_del_ids], ["edge_id"]
                        )
                    ),
                    "edge_id",
                    "inner",
                ).select("edge_id", "src", "dst", "rel").collect()
            }
            if persisted_del_ids
            else {}
        )

        # -- sequential replay (first violation wins) ------------------
        adds: list[tuple] = []
        dels: set[int] = set()
        sim_keys: dict[tuple, int] = {}
        del_keys: set[tuple] = set()
        for op in ops:
            if op[0] == "add":
                _, eid, src, dst, rel, weight, directed = op
                for i in (src, dst, rel):
                    if i not in found_docs:
                        raise ValueError(f"no such doc: {i}")
                key = (src, dst, rel)
                if key in sim_keys or (
                    key not in del_keys and key in persisted_keys
                ):
                    raise RuntimeError(
                        f"edge ({src}, {dst}, {rel}) already exists"
                    )
                del_keys.discard(key)
                sim_keys[key] = eid
                adds.append((eid, src, dst, rel, weight, directed))
            else:
                edge_id = op[1]
                rolled_back = next(
                    (k for k, e in sim_keys.items() if e == edge_id), None
                )
                if rolled_back is not None:
                    del sim_keys[rolled_back]
                    adds[:] = [a for a in adds if a[0] != edge_id]
                    continue
                row_key = del_map.get(edge_id)
                if row_key is None or edge_id in dels:
                    raise ValueError(f"no such edge: [{edge_id}]")
                dels.add(edge_id)
                del_keys.add(row_key)

        if not adds and not dels:
            return
        pbs = sorted(
            {Warehouse.bucket_of(a[0], EDGES_BUCKETS) for a in adds}
            | {Warehouse.bucket_of(e, EDGES_BUCKETS) for e in dels}
        )
        post = self.wh.read_buckets("edges", pbs)
        if dels:
            post = post.filter(~F.col("edge_id").isin(list(dels)))
        if adds:
            post = post.unionByName(self.spark.createDataFrame(adds, EDGES_SCHEMA))
        self.wh.overwrite_buckets("edges", pbs, post)

    def add_edge(self, doc1: int, doc2: int, relationship: int,
                 weight: Optional[float] = None) -> int:
        with self.bulk_graph_update() as g:
            return g.add_edge(doc1, doc2, relationship, weight)

    def add_directed_edge(self, from_doc: int, to_doc: int, relationship: int,
                          weight: Optional[float] = None) -> int:
        with self.bulk_graph_update() as g:
            return g.add_directed_edge(from_doc, to_doc, relationship, weight)

    def del_edge(self, edge_id: int) -> None:
        with self.bulk_graph_update() as g:
            g.del_edge(edge_id)

    def build_networkx_graph(self, multigraph: bool = True):
        """kb.py:681-722 golden semantics (tests/test_kb.py:626-728):
        directedness auto-detected; undirected edges in a directed graph
        expand to reciprocal arcs; nodes are endpoint docs only; edge
        attrs: edge_doc (= rel record) and weight when non-NULL."""
        try:
            import networkx as nx
        except ImportError as e:  # pragma: no cover
            raise RuntimeError("networkx is not installed") from e

        edge_rows = self.edges.collect()
        any_directed = any(r["directed"] for r in edge_rows)
        if any_directed:
            g = nx.MultiDiGraph() if multigraph else nx.DiGraph()
        else:
            g = nx.MultiGraph() if multigraph else nx.Graph()
        needed = sorted(
            {r["src"] for r in edge_rows} | {r["dst"] for r in edge_rows}
            | {r["rel"] for r in edge_rows}
        )
        recs = {
            r["id"]: self._to_record(r, False)
            for r in self.docs.filter(F.col("id").isin(needed)).collect()
        }
        for r in edge_rows:
            attrs = {"edge_doc": recs[r["rel"]]}
            if r["weight"] is not None:
                attrs["weight"] = r["weight"]
            g.add_edge(r["src"], r["dst"], **attrs)
            if any_directed and not r["directed"]:
                g.add_edge(r["dst"], r["src"], **attrs)
        for node in list(g.nodes):
            g.nodes[node]["doc"] = recs[node]
        return g

    # -- key/value (K1-K5) --------------------------------------------------------

    def _kv_all(self) -> dict:
        return {
            r["key"]: _decode_val(r["val_type"], r["val"])
            for r in self.wh.read("keyval").collect()
        }

    @contextmanager
    def bulk_keyval_update(self):
        """kb.py:1731-1795: dict-like KV ops committed atomically; a
        block that only reads (no set/remove) writes nothing.
        get() default semantics (kb.py:1746-1756): missing key raises
        KeyError; an Exception-subclass default is raised; any other
        default is returned."""
        state = self._kv_all()
        changed = [False]

        class KV:
            def get(self, key: str, default: Any = _MISSING) -> Any:
                if key in state:
                    return state[key]
                if default is _MISSING:
                    raise KeyError(key)
                if isinstance(default, type) and issubclass(default, Exception):
                    raise default(key)
                if isinstance(default, Exception):
                    raise default
                return default

            def set(self, key: str, val: Any) -> None:
                _encode_val(val)  # validate type early
                state[key] = val
                changed[0] = True

            def remove(self, key: str) -> None:
                if key not in state:
                    raise KeyError(key)
                del state[key]
                changed[0] = True

            def has(self, key: str) -> bool:
                return key in state

            def count(self) -> int:
                return len(state)

            def items(self) -> List[tuple]:
                return sorted(state.items())

            __contains__ = has
            __len__ = count

            def __getitem__(self, key: str) -> Any:
                return self.get(key)

            def __setitem__(self, key: str, val: Any) -> None:
                self.set(key, val)

            def __delitem__(self, key: str) -> None:
                self.remove(key)

            def __iter__(self) -> Iterator[str]:
                return iter(sorted(state))

        yield KV()
        if changed[0]:
            self._write_kv("keyval", state)


def _kb_register_views(self: KnowledgeBase, prefix: str = "kb") -> None:
    """Expose the KB tables to spark.sql as temp views
    (``<prefix>_docs``, ``<prefix>_edges``, ``<prefix>_keyval``) — the
    SQL string surface the reference never had: any svs KB becomes
    queryable with joins/aggregations/windows over its documents,
    vectors, graph, and KV data."""
    self.docs.createOrReplaceTempView(f"{prefix}_docs")
    self.edges.createOrReplaceTempView(f"{prefix}_edges")
    self.wh.read("keyval").createOrReplaceTempView(f"{prefix}_keyval")


def _kb_sql(self: KnowledgeBase, query: str, prefix: str = "kb"):
    """Run a SQL query against the registered KB views (registers them
    first)."""
    self.register_views(prefix)
    return self.spark.sql(query)


KnowledgeBase.register_views = _kb_register_views
KnowledgeBase.sql = _kb_sql
