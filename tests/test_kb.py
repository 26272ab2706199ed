"""KnowledgeBase unit tests mirroring the reference's exact-state test
strategy (SURVEY.md §5, FIXTURES.md): deterministic embedding funcs make
ranking exactly predictable; goldens assert ids, levels, tri-state
embedding fields, DFS order, cascade deletes, KV semantics.

Golden sources: reference tests/test_kb.py (cited per test).
"""

from __future__ import annotations

import pytest

from svs_spark.functions.embeddings import (
    make_keyword_embeddings_func,
    make_mock_embeddings_func,
)
from svs_spark.kb import KnowledgeBase


@pytest.fixture()
def kb(spark, tmp_path):
    return KnowledgeBase(
        spark,
        str(tmp_path / "kb"),
        embedding_func=make_mock_embeddings_func(),
        embedding_params={"provider": "mock"},
        force_fresh_db=True,
    )


@pytest.fixture()
def kw_kb(spark, tmp_path):
    return KnowledgeBase(
        spark,
        str(tmp_path / "kwkb"),
        embedding_func=make_keyword_embeddings_func(),
        embedding_params={"provider": "keyword"},
        force_fresh_db=True,
    )


def _bucket_inventory(kb: KnowledgeBase, table: str) -> dict:
    """(inode, mtime) of each ``_pb=`` dir: a rewritten bucket is a new
    directory swapped in, so both change."""
    import os

    path = kb.wh.table_path(table)
    out = {}
    for d in os.listdir(path):
        if d.startswith("_pb="):
            st = os.stat(os.path.join(path, d))
            out[d] = (st.st_ino, st.st_mtime_ns)
    return out


def _counting_embedder(log_path: str):
    """Mock embedder that appends the size of every batch it embeds to
    ``log_path`` (from whichever process runs it)."""

    def embed(texts):
        with open(log_path, "a") as f:
            f.write(f"{len(texts)}\n")
        return [[1.0, 0.0, 0.0] for _ in texts]

    return embed


def _texts_embedded(log_path) -> int:
    import os

    if not os.path.exists(log_path):
        return 0
    with open(log_path) as f:
        return sum(int(line) for line in f)


def _add_fixture_docs(kb: KnowledgeBase) -> None:
    # canonical 5-row fixture (FIXTURES.md F1 / reference test_kb.py:147-216)
    with kb.bulk_add_docs() as add:
        d1 = add("first doc")
        d2 = add("second doc", parent_id=d1)
        add("third doc", meta={"test": "stuff"})
        d4 = add("forth doc", parent_id=d2, meta={"test": "again"})
        add("fifth doc", parent_id=d4, meta={"test": 5}, no_embedding=True)


class TestDocStore:
    def test_add_levels_and_ids(self, kb):
        _add_fixture_docs(kb)
        recs = {r["id"]: r for r in kb.query_level(0)}
        assert set(recs) == {1, 3}
        assert kb.query_doc(2)["level"] == 1
        assert kb.query_doc(4)["level"] == 2
        assert kb.query_doc(5)["level"] == 3
        assert kb.count() == 5 and len(kb) == 5

    def test_invalid_parent(self, kb):
        with pytest.raises(ValueError):
            with kb.bulk_add_docs() as add:
                add("orphan", parent_id=999)

    def test_embedding_tristate(self, kb):
        # reference test_kb.py:263-278: bool without include_embedding,
        # vector with it, None/False for no_embedding docs
        _add_fixture_docs(kb)
        assert kb.query_doc(1)["embedding"] is True
        assert kb.query_doc(5)["embedding"] is False
        assert kb.query_doc(1, include_embedding=True)["embedding"] == [1.0, 0.0, 0.0]
        assert kb.query_doc(5, include_embedding=True)["embedding"] is None

    def test_meta_roundtrip_and_update(self, kb):
        # reference test_kb.py:1154-1161
        _add_fixture_docs(kb)
        assert kb.query_doc(3)["meta"] == {"test": "stuff"}
        assert kb.query_doc(5)["meta"] == {"test": 5}
        kb.update_doc_meta(3, {"new": [1, 2]})
        assert kb.query_doc(3)["meta"] == {"new": [1, 2]}
        kb.update_doc_meta(3, None)
        assert kb.query_doc(3)["meta"] is None

    def test_children(self, kb):
        _add_fixture_docs(kb)
        kids = kb.query_children(2)
        assert [k["id"] for k in kids] == [4]

    def test_delete_parent_refused(self, kb):
        # reference test_kb.py:380-395
        _add_fixture_docs(kb)
        with pytest.raises(RuntimeError):
            kb.del_doc(2)
        # child-before-parent in one bulk succeeds (order-sensitive guard)
        with kb.bulk_del_docs() as dd:
            dd(5)
            dd(4)
        assert kb.count() == 3

    def test_delete_missing(self, kb):
        _add_fixture_docs(kb)
        with pytest.raises(ValueError):
            kb.del_doc(99)

    def test_dfs_order(self, kb):
        # golden order: roots ascending, children ascending, depth-first
        # (reference test_kb.py:1117-1153)
        _add_fixture_docs(kb)
        order = [r["id"] for r in kb.dfs_traversal()]
        assert order == [1, 2, 4, 5, 3]

    def test_dfs_order_with_hashed_ids(self, spark, tmp_path):
        """ADVICE r1: xxhash64 corpus ingest produces negative and
        >12-digit doc ids; DFS order must still be numeric-ascending
        (the old lpad-12 path truncated long ids and sorted negatives
        lexically after positives)."""
        kb = KnowledgeBase(
            spark, str(tmp_path / "hashed"),
            embedding_params={"provider": "mock"}, force_fresh_db=True,
        )
        ids = [-9123456789012345678, -5, 3, 42, 8765432109876543210]
        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in ids], "doc_id long, text string"
        )
        kb.add_documents_df(df, no_embedding=True)
        order = [r["id"] for r in kb.dfs_traversal()]
        assert order == sorted(ids)

    def test_persistence_across_reopen(self, spark, tmp_path):
        path = str(tmp_path / "kb2")
        kb = KnowledgeBase(
            spark, path, embedding_params={"provider": "mock"},
            force_fresh_db=True,
        )
        _add_fixture_docs(kb)
        kb.close(vacuum=True)
        # reopen WITHOUT a func: embedding config rebuilt from stored
        # params (reference test_kb.py:922-971)
        kb2 = KnowledgeBase(spark, path)
        assert kb2.count() == 5
        assert kb2.query_doc(4)["meta"] == {"test": "again"}

    def test_no_func_no_params_errors(self, spark, tmp_path):
        with pytest.raises(ValueError):
            KnowledgeBase(spark, str(tmp_path / "kb3"), force_fresh_db=True)

    def test_set_doc_embedding(self, kb):
        _add_fixture_docs(kb)
        kb.set_doc_embedding(5, [0.0, 1.0, 0.0])
        assert kb.query_doc(5, include_embedding=True)["embedding"] == [0.0, 1.0, 0.0]


class TestRetrieval:
    def test_golden_rank_orders(self, kw_kb):
        # reference test_kb.py:1229-1248 golden ranks
        with kw_kb.bulk_add_docs() as add:
            add("third doc")
            add("first doc")
            add("second doc")
        def ids(q):
            return [r["doc"]["text"] for r in kw_kb.retrieve(q, 3)]
        assert ids("first") == ["first doc", "third doc", "second doc"]
        assert ids("second") == ["second doc", "first doc", "third doc"]
        assert ids("third") == ["third doc", "first doc", "second doc"]

    def test_add_then_delete_changes_ranks(self, kw_kb):
        # reference test_kb.py:1268-1318 (cache invalidation on mutation)
        with kw_kb.bulk_add_docs() as add:
            add("third doc")
            add("first doc")
            add("second doc")
        with kw_kb.bulk_add_docs() as add:
            add("forth doc")
        assert kw_kb.retrieve("forth", 1)[0]["doc"]["text"] == "forth doc"
        with kw_kb.bulk_del_docs() as dd:
            dd(1)
            dd(2)
            dd(4)
        assert kw_kb.retrieve("forth", 1)[0]["doc"]["text"] == "second doc"

    def test_pairwise_golden(self, kw_kb):
        # reference test_kb.py:1252-1266: top-2 pairs (1,2) then (2,3)
        with kw_kb.bulk_add_docs() as add:
            add("third doc")
            add("first doc")
            add("second doc")
        pairs = kw_kb.document_top_pairwise_scores(2)
        assert [(p[1]["id"], p[2]["id"]) for p in pairs] == [(1, 2), (2, 3)]

    def test_magnitude_guard(self, spark, tmp_path):
        # reference test_kb.py:1321-1346
        def too_big(texts):
            return [[1.0, 0.1, 0.0] for _ in texts]

        kb = KnowledgeBase(
            spark, str(tmp_path / "mag"), embedding_func=too_big,
            force_fresh_db=True,
        )
        with pytest.raises(Exception, match="magnitude"):
            with kb.bulk_add_docs() as add:
                add("anything")


class TestGraph:
    def _setup(self, kb):
        with kb.bulk_add_docs() as add:
            for i in range(7):
                add(f"doc {i + 1}")

    def test_edge_crud_and_uniqueness(self, kb):
        # reference FIXTURES.md F3 / test_kb.py:511-579
        self._setup(kb)
        with kb.bulk_graph_update() as g:
            e1 = g.add_edge(2, 4, 6)
            g.add_edge(2, 4, 7)
            g.add_edge(1, 4, 6, weight=0.5)
            g.add_edge(1, 3, 7, weight=1.5)
            g.add_directed_edge(2, 3, 6)
            g.add_directed_edge(2, 5, 7, weight=2.5)
        assert e1 == 1
        assert kb.count_edges() == 6
        with pytest.raises(RuntimeError):
            kb.add_edge(2, 4, 6)  # duplicate (src, dst, rel) — kb.py:650-651
        kb.del_edge(1)
        assert kb.count_edges() == 5
        with pytest.raises(ValueError):
            kb.del_edge(99)

    def test_point_edge_mutation_touches_only_its_bucket(self, kb):
        """The edges table is bucketed by edge_id, so a point del_edge
        rewrites only its edge_id's _pb partition — other buckets'
        files stay byte-identical (mtime untouched)."""
        import os

        from svs_spark.kb import EDGES_BUCKETS
        from svs_spark.sources.warehouse import Warehouse

        self._setup(kb)
        with kb.bulk_graph_update() as g:
            for i in range(1, 7):
                g.add_edge(i, 7, i % 3 + 1)
        meta = kb.wh.bucket_meta("edges")
        assert meta == {"key_col": "edge_id", "n_buckets": EDGES_BUCKETS}

        path = kb.wh.table_path("edges")

        def inventory():
            out = {}
            for d in os.listdir(path):
                if not d.startswith("_pb="):
                    continue
                sub = os.path.join(path, d)
                out[d] = {
                    (f, os.stat(os.path.join(sub, f)).st_mtime_ns)
                    for f in os.listdir(sub)
                }
            return out

        before = inventory()
        victim = 3  # edge_id 3
        kb.del_edge(victim)
        after = inventory()
        touched = Warehouse.bucket_of(victim, EDGES_BUCKETS)
        for d in set(before) | set(after):
            if d == f"_pb={touched}":
                continue
            assert before.get(d) == after.get(d), f"{d} was rewritten"
        assert kb.count_edges() == 5

    def test_networkx_export(self, kb):
        pytest.importorskip("networkx")
        self._setup(kb)
        with kb.bulk_graph_update() as g:
            g.add_edge(2, 4, 6)          # undirected
            g.add_directed_edge(2, 3, 7)  # forces directed graph
        g = kb.build_networkx_graph()
        assert g.is_directed()
        # undirected edge expanded to both directions (kb.py:681-722)
        assert g.has_edge(2, 4) and g.has_edge(4, 2) and g.has_edge(2, 3)
        assert not g.has_edge(3, 2)
        # nodes = endpoints only; edge-type docs 6,7 are not nodes
        assert set(g.nodes) == {2, 3, 4}

    def test_edge_cascade_on_doc_delete(self, kb):
        # reference test_kb.py:683-712
        self._setup(kb)
        with kb.bulk_graph_update() as g:
            g.add_edge(2, 4, 6)
            g.add_edge(1, 3, 6)
        kb.del_doc(4)
        assert kb.count_edges() == 1  # (2,4,6) cascaded away

    def test_rel_doc_cascade(self, kb):
        self._setup(kb)
        kb.add_edge(1, 2, 6)
        kb.del_doc(6)  # rel doc delete cascades the edge too
        assert kb.count_edges() == 0

    def test_del_then_readd_same_triplet(self, kb):
        """SQLite applies ops sequentially inside the transaction, so
        deleting an edge frees its (src, dst, rel) key for re-adding in
        the SAME bulk — the executor-side validation must honor in-bulk
        deletes, not just persisted state."""
        self._setup(kb)
        e1 = kb.add_edge(2, 4, 6)
        with kb.bulk_graph_update() as g:
            g.del_edge(e1)
            e2 = g.add_edge(2, 4, 6)  # must NOT raise duplicate
        assert e2 != e1
        assert kb.count_edges() == 1

    def test_in_bulk_add_rollback(self, kb):
        """del_edge of an id added earlier in the same bulk removes the
        pending add (mirrors sequential SQLite execution)."""
        self._setup(kb)
        with kb.bulk_graph_update() as g:
            eid = g.add_edge(1, 2, 6)
            g.del_edge(eid)
            g.add_edge(1, 2, 6)  # key is free again
        assert kb.count_edges() == 1

    def test_rolled_back_add_still_validates(self, kb):
        """Sequential semantics: an add that would have raised raises
        even if a later in-bulk del would have rolled it back — the
        error happened first."""
        self._setup(kb)
        kb.add_edge(2, 4, 6)
        with pytest.raises(RuntimeError, match="already exists"):
            with kb.bulk_graph_update() as g:
                eid = g.add_edge(2, 4, 6)  # duplicate of persisted edge
                g.del_edge(eid)
        assert kb.count_edges() == 1  # nothing written by the failed bulk

    def test_eager_validation_raises_at_call_time(self, kb):
        """Reference-parity mode (ADVICE round 4): with
        eager_validation=True every persisted-state violation raises at
        the CALL, so callers can catch per-call errors, skip the bad
        edge, and keep the rest of the bulk."""
        self._setup(kb)
        kb.add_edge(2, 4, 6)
        kept = []
        with kb.bulk_graph_update(eager_validation=True) as g:
            for args in [(2, 4, 6), (1, 3, 6), (1, 99, 6), (3, 4, 6)]:
                try:
                    kept.append(g.add_edge(*args))
                except (RuntimeError, ValueError):
                    pass  # skip dup (2,4,6) and missing doc 99
        assert len(kept) == 2
        assert kb.count_edges() == 3  # the persisted one + the 2 kept

    def test_eager_validation_del_semantics(self, kb):
        """Eager del: missing ids raise immediately; del-then-re-add of
        the same triplet still works inside one eager bulk."""
        self._setup(kb)
        e1 = kb.add_edge(2, 4, 6)
        with kb.bulk_graph_update(eager_validation=True) as g:
            with pytest.raises(ValueError, match="no such edge"):
                g.del_edge(999)
            g.del_edge(e1)
            g.add_edge(2, 4, 6)  # key freed by the eager del
        assert kb.count_edges() == 1

    def test_bulk_job_count_is_constant(self, spark, kb):
        """The round-3 scale fix: a bulk of N adds must run O(1) Spark
        jobs (start-id agg + 3 batched validation lookups + commit
        write), never a per-edge isEmpty/collect — 100k edges was ~100k
        driver-dispatched jobs before."""
        self._setup(kb)
        sc = spark.sparkContext
        sc.setJobGroup("bulk-graph-gate", "bulk job-count gate")
        try:
            with kb.bulk_graph_update() as g:
                for i in range(1, 7):
                    for j in range(i + 1, 8):
                        for rel in (1, 2, 3, 4, 5):
                            g.add_edge(i, j, rel)  # 105 edges
        finally:
            sc.setJobGroup("bulk-graph-gate-done", "")
        jobs = sc.statusTracker().getJobIdsForGroup("bulk-graph-gate")
        assert kb.count_edges() == 105
        assert 0 < len(jobs) <= 30, f"{len(jobs)} jobs for a 105-edge bulk"


class TestKeyval:
    def test_kv_semantics(self, kb):
        # FIXTURES.md F4 / reference test_kb.py:1349-1430
        with kb.bulk_keyval_update() as kv:
            kv.set("reason", "because")
            kv.set("answer", 42)
            kv.set("age", 87.5)
            kv.set("blob", b"\x00\x01")
        with kb.bulk_keyval_update() as kv:
            assert kv.get("reason") == "because"
            assert kv.get("answer") == 42 and isinstance(kv.get("answer"), int)
            assert kv.get("age") == 87.5
            assert kv.get("blob") == b"\x00\x01"
            assert kv.count() == 4 and len(kv) == 4
            assert "answer" in kv and kv.has("answer")
            with pytest.raises(KeyError):
                kv.get("missing")
            with pytest.raises(RuntimeError):
                kv.get("missing", RuntimeError)  # Exception default raises
            assert kv.get("missing", "fallback") == "fallback"
            kv.remove("age")
            with pytest.raises(KeyError):
                kv.remove("age")
        with kb.bulk_keyval_update() as kv:
            assert kv.count() == 3
            assert sorted(kv) == ["answer", "blob", "reason"]

    def test_read_only_block_writes_nothing(self, kb):
        """A block that never calls set/remove must not rewrite keyval:
        every file of the table keeps its inode and mtime."""
        import os

        with kb.bulk_keyval_update() as kv:
            kv.set("answer", 42)
        path = kb.wh.table_path("keyval")

        def inventory():
            out = {}
            for d, _, files in os.walk(path):
                for f in files:
                    st = os.stat(os.path.join(d, f))
                    out[os.path.join(d, f)] = (st.st_ino, st.st_mtime_ns)
            return out

        before = inventory()
        with kb.bulk_keyval_update() as kv:
            assert kv.get("answer") == 42
            assert kv.get("missing", None) is None
            assert kv.items() == [("answer", 42)]
        assert inventory() == before
        with kb.bulk_keyval_update() as kv:
            kv.remove("answer")
        assert inventory() != before
        with kb.bulk_keyval_update() as kv:
            assert kv.count() == 0


class TestMetaGuards:
    def test_schema_version_mismatch_raises(self, spark, tmp_path):
        # reference kb.py:841-853 / tests/test_kb.py:893-919
        import json
        from svs_spark.kb import KnowledgeBase, KEYVAL_SCHEMA
        from svs_spark.sources.warehouse import Warehouse

        path = str(tmp_path / "vkb")
        KnowledgeBase(
            spark, path, embedding_params={"provider": "mock"},
            force_fresh_db=True,
        )
        wh = Warehouse(spark, path)
        rows = [
            (r["key"], r["val_type"], r["val"])
            for r in wh.read("_meta").collect()
        ]
        rows = [
            ("schema_version", "int", json.dumps(99))
            if k == "schema_version" else (k, t, v)
            for (k, t, v) in rows
        ]
        wh.write("_meta", spark.createDataFrame(rows, KEYVAL_SCHEMA))
        with pytest.raises(RuntimeError, match="schema version"):
            KnowledgeBase(spark, path)

    def test_explicit_func_overrides_with_warning(self, spark, tmp_path):
        # reference kb.py:912-917: explicit func over stored params warns
        import warnings as w
        from svs_spark.functions.embeddings import make_mock_embeddings_func
        from svs_spark.kb import KnowledgeBase

        path = str(tmp_path / "wkb")
        KnowledgeBase(
            spark, path, embedding_params={"provider": "mock"},
            force_fresh_db=True,
        )
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            KnowledgeBase(
                spark, path, embedding_func=make_mock_embeddings_func()
            )
        assert any("overrides" in str(c.message) for c in caught)


class TestSqlSurface:
    def test_sql_over_kb_views(self, kb):
        _add_fixture_docs(kb)
        kb.add_edge(1, 2, 3, weight=0.5)
        out = kb.sql(
            """
            SELECT d.level, count(*) AS n,
                   count(e.edge_id) AS n_edges_out
            FROM kb_docs d LEFT JOIN kb_edges e ON e.src = d.id
            GROUP BY d.level ORDER BY d.level
            """
        ).collect()
        by_level = {r["level"]: (r["n"], r["n_edges_out"]) for r in out}
        assert by_level[0] == (2, 1)  # docs 1,3; doc 1 has the edge
        assert by_level[1] == (1, 0)


class TestDistributedIngest:
    """add_documents_df: the distributed (no driver loop) bulk ingest
    path bridging sources.corpus frames into the KB."""

    def test_ingest_corpus_df(self, kb, spark, tmp_path):
        from svs_spark.sources.corpus import ingest_jsonl

        p = tmp_path / "dump.jsonl"
        p.write_text(
            '{"text": "spark distributed ingest", "lang": "en"}\n'
            '{"text": "second document body", "lang": "en"}\n'
        )
        n = kb.add_documents_df(ingest_jsonl(spark, str(p), "dump"))
        assert n == 2
        assert kb.count() == 2
        # all root docs, embedded, retrievable
        recs = kb.dfs_traversal()
        assert {r["level"] for r in recs} == {0}
        assert all(r["embedding"] is True for r in recs)
        hits = kb.retrieve("anything", n=2)
        assert len(hits) == 2

    def test_ingest_id_collision_raises(self, kb, spark):
        df = spark.createDataFrame(
            [(1, "first"), (1, "dup id")], "doc_id: long, text: string"
        )
        kb.add_documents_df(df.limit(1))
        import pytest as _pytest

        with _pytest.raises(ValueError, match="already exist"):
            kb.add_documents_df(
                spark.createDataFrame([(1, "again")], "doc_id: long, text: string")
            )

    def test_ingest_mixes_with_driver_loop_docs(self, kb, spark):
        root = kb.add_doc("manual root")
        kb.add_doc("manual child", parent_id=root)
        df = spark.createDataFrame(
            [(9001, "bulk one"), (9002, "bulk two")],
            "doc_id: long, text: string",
        )
        kb.add_documents_df(df, no_embedding=True)
        assert kb.count() == 4
        rec = kb.query_doc(9001)
        assert rec["embedding"] is False and rec["level"] == 0


class TestBucketedDml:
    """Point mutations must touch only their hash bucket — the
    Spark-native analogue of MERGE's touched-files-only rewrite (round-1
    verdict: every M1-M4 call rewrote the whole docs table)."""

    def _bucket_dirs(self, kb):
        import os

        path = kb.wh.table_path("docs")
        return {
            d: os.path.getmtime(os.path.join(path, d))
            for d in os.listdir(path)
            if d.startswith("_pb=")
        }

    def test_point_update_touches_one_bucket(self, spark, tmp_path):
        import time

        kb = KnowledgeBase(
            spark, str(tmp_path / "bkt"),
            embedding_params={"provider": "mock"}, force_fresh_db=True,
        )
        with kb.bulk_add_docs() as add:
            for i in range(40):
                add(f"doc number {i}", no_embedding=True)
        before = self._bucket_dirs(kb)
        assert len(before) > 4  # layout really is bucketed
        time.sleep(1.05)  # mtime resolution
        kb.update_doc_meta(5, {"touched": True})
        after = self._bucket_dirs(kb)
        from svs_spark.sources.warehouse import Warehouse
        from svs_spark.kb import DOCS_BUCKETS

        hot = f"_pb={Warehouse.bucket_of(5, DOCS_BUCKETS)}"
        changed = {d for d in after if after[d] != before.get(d)}
        assert changed == {hot}, changed
        assert kb.query_doc(5)["meta"] == {"touched": True}
        # the other docs are untouched
        assert kb.query_doc(6)["meta"] is None
        assert len(kb) == 40

    def test_delete_touches_only_deleted_buckets(self, spark, tmp_path):
        import time

        kb = KnowledgeBase(
            spark, str(tmp_path / "bktd"),
            embedding_params={"provider": "mock"}, force_fresh_db=True,
        )
        with kb.bulk_add_docs() as add:
            for i in range(40):
                add(f"doc number {i}", no_embedding=True)
        before = self._bucket_dirs(kb)
        time.sleep(1.05)
        kb.del_doc(7)  # id 8 lives in bucket 8 % 16
        after = self._bucket_dirs(kb)
        changed = {d for d in after if after[d] != before.get(d)}
        from svs_spark.sources.warehouse import Warehouse
        from svs_spark.kb import DOCS_BUCKETS

        assert changed == {f"_pb={Warehouse.bucket_of(7, DOCS_BUCKETS)}"}
        assert len(kb) == 39

    def test_vacuum_preserves_bucketing(self, spark, tmp_path):
        kb = KnowledgeBase(
            spark, str(tmp_path / "bktv"),
            embedding_params={"provider": "mock"}, force_fresh_db=True,
        )
        with kb.bulk_add_docs() as add:
            for i in range(20):
                add(f"doc {i}", no_embedding=True)
        kb.close(vacuum=True)
        kb2 = KnowledgeBase(spark, str(tmp_path / "bktv"))
        assert kb2.wh.bucket_meta("docs") is not None
        assert len(kb2) == 20
        kb2.update_doc_meta(3, {"ok": 1})
        assert kb2.query_doc(3)["meta"] == {"ok": 1}


class TestLayout:
    """docs and edges are bucketed when the KB is created and stay
    bucketed; tables written in the plain layout are converted at open."""

    def test_fresh_kb_is_bucketed_before_any_mutation(self, kb):
        from svs_spark.kb import (
            DOCS_BUCKETS, DOCS_SCHEMA, EDGES_BUCKETS, EDGES_SCHEMA,
        )

        assert kb.wh.bucket_meta("docs") == {
            "key_col": "id", "n_buckets": DOCS_BUCKETS
        }
        assert kb.wh.bucket_meta("edges") == {
            "key_col": "edge_id", "n_buckets": EDGES_BUCKETS
        }

        def shape(schema):
            return [(f.name, f.dataType) for f in schema]

        assert shape(kb.docs.schema) == shape(DOCS_SCHEMA)
        assert shape(kb.edges.schema) == shape(EDGES_SCHEMA)
        assert kb.count() == 0 and kb.count_edges() == 0

    def test_deleting_every_doc_keeps_layout(self, kb):
        from svs_spark.kb import DOCS_BUCKETS

        with kb.bulk_add_docs() as add:
            ids = [add(f"doc {i}") for i in range(3)]
        kb.add_edge(ids[0], ids[1], ids[2])
        with kb.bulk_del_docs() as dd:
            for i in ids:
                dd(i)
        assert kb.wh.bucket_meta("docs") == {
            "key_col": "id", "n_buckets": DOCS_BUCKETS
        }
        assert kb.count() == 0 and kb.count_edges() == 0
        assert kb.query_level(0) == []
        new = kb.add_doc("after the purge")
        assert kb.count() == 1
        assert kb.query_doc(new)["text"] == "after the purge"

    def test_fresh_kb_ignores_docs_cached_by_an_older_instance(
        self, spark, tmp_path
    ):
        """Spark matches a cached plan by root path, so an older KB's
        persisted docs would answer reads of a fresh KB created at the
        same path unless every table write refreshes that cache."""
        path = str(tmp_path / "reused")
        old = KnowledgeBase(
            spark, path, embedding_params={"provider": "mock"},
            force_fresh_db=True,
        )
        with old.bulk_add_docs() as add:
            add("old one")
            add("old two")
        old.load()  # persists the old instance's docs view
        try:
            new = KnowledgeBase(
                spark, path, embedding_params={"provider": "mock"},
                force_fresh_db=True,
            )
            assert new.count() == 0
            new.add_doc("new one")
            assert [r["text"] for r in new.query_level(0)] == ["new one"]
        finally:
            old.close()

    def test_plain_layout_is_converted_at_open(self, spark, tmp_path):
        """Plain-parquet docs/edges/keyval plus _meta, as KBs were
        written before the layout was fixed at creation: opening the KB
        converts docs and edges once, keeping their rows; afterwards a
        point update rewrites one bucket."""
        import json

        from svs_spark.kb import (
            DOCS_BUCKETS, DOCS_SCHEMA, EDGES_BUCKETS, EDGES_SCHEMA,
            KEYVAL_SCHEMA, SCHEMA_VERSION,
        )
        from svs_spark.sources.warehouse import Warehouse

        path = str(tmp_path / "plain")
        wh = Warehouse(spark, path)
        wh.write("_meta", spark.createDataFrame([
            ("schema_version", "int", json.dumps(SCHEMA_VERSION)),
            ("embedding_func_params", "str", json.dumps({"provider": "mock"})),
        ], KEYVAL_SCHEMA))
        wh.write("docs", spark.createDataFrame(
            [(i, None, 0, f"doc {i}", [1.0, 0.0, 0.0], None)
             for i in range(1, 41)],
            DOCS_SCHEMA,
        ))
        wh.write("edges", spark.createDataFrame([], EDGES_SCHEMA))
        wh.write("keyval", spark.createDataFrame([], KEYVAL_SCHEMA))
        assert wh.bucket_meta("docs") is None

        kb = KnowledgeBase(spark, path)
        assert kb.wh.bucket_meta("docs") == {
            "key_col": "id", "n_buckets": DOCS_BUCKETS
        }
        assert kb.wh.bucket_meta("edges") == {
            "key_col": "edge_id", "n_buckets": EDGES_BUCKETS
        }
        assert kb.count() == 40 and kb.count_edges() == 0
        assert kb.query_doc(7, include_embedding=True)["embedding"] == [
            1.0, 0.0, 0.0
        ]

        before = _bucket_inventory(kb, "docs")
        assert len(before) == DOCS_BUCKETS
        kb.update_doc_meta(5, {"touched": True})
        after = _bucket_inventory(kb, "docs")
        hot = f"_pb={Warehouse.bucket_of(5, DOCS_BUCKETS)}"
        assert {d for d in after if after[d] != before.get(d)} == {hot}
        assert kb.query_doc(5)["meta"] == {"touched": True}
        # a second open finds the layout in place and rewrites nothing
        KnowledgeBase(spark, path)
        assert _bucket_inventory(kb, "docs") == after

    def test_other_bucket_count_is_converted_at_open(self, spark, tmp_path):
        from svs_spark.kb import EDGES_BUCKETS

        path = str(tmp_path / "rebucket")
        kb = KnowledgeBase(
            spark, path, embedding_params={"provider": "mock"},
            force_fresh_db=True,
        )
        with kb.bulk_add_docs() as add:
            for i in range(4):
                add(f"doc {i}")
        kb.add_edge(1, 2, 3)
        kb.add_edge(2, 3, 4)
        kb.wh.write_bucketed("edges", kb.edges, "edge_id", 4)
        kb2 = KnowledgeBase(spark, path)
        assert kb2.wh.bucket_meta("edges") == {
            "key_col": "edge_id", "n_buckets": EDGES_BUCKETS
        }
        assert sorted(
            (r["src"], r["dst"], r["rel"]) for r in kb2.edges.collect()
        ) == [(1, 2, 3), (2, 3, 4)]
        kb2.del_edge(1)
        assert kb2.count_edges() == 1


class TestEmbedOnce:
    """Every ingest path calls the embedding provider exactly once per
    embedded doc, although the bucketed append reads the new rows twice
    (bucket probe, then the bucket write)."""

    def _kb(self, spark, tmp_path):
        log = str(tmp_path / "embedded.log")
        kb = KnowledgeBase(
            spark, str(tmp_path / "kb"),
            embedding_func=_counting_embedder(log), force_fresh_db=True,
        )
        return kb, log

    def test_bulk_add_docs(self, spark, tmp_path):
        kb, log = self._kb(spark, tmp_path)
        _add_fixture_docs(kb)  # 5 docs, one with no_embedding
        assert _texts_embedded(log) == 4
        assert kb.count() == 5

    def test_add_documents_df(self, spark, tmp_path):
        kb, log = self._kb(spark, tmp_path)
        df = spark.createDataFrame(
            [(i, f"text {i}") for i in range(1, 8)], "doc_id long, text string"
        )
        assert kb.add_documents_df(df) == 7
        assert _texts_embedded(log) == 7
        assert kb.count() == 7

    def test_add_chunked_documents_df(self, spark, tmp_path):
        kb, log = self._kb(spark, tmp_path)
        df = spark.createDataFrame(
            [(i, f"document number {i} " * 4) for i in range(1, 4)],
            "doc_id long, text string",
        )
        n_parents, n_chunks = kb.add_chunked_documents_df(
            df, chunk_size=20, chunk_stride=15
        )
        assert n_parents == 3 and n_chunks > n_parents
        assert _texts_embedded(log) == n_chunks
        assert kb.count() == n_parents + n_chunks
