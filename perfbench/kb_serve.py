"""``kb_serve``: one closed-loop client against a ``KnowledgeBase``.

A single caller with one outstanding call runs a 90% read / 10% write
mix with seeded arguments (``gen.KB_DECK``) against a KB of parents with
chunk children, a thousand edges and a small keyval set. Every call's
result is checked against an in-memory model of the KB (NumPy
brute-force top-k for ``retrieve``) outside the timed span of the call.
"""

from __future__ import annotations

import math
import time

import numpy as np

from perfbench import common, gen

SIZES = {
    "full": dict(n_parents=1000, chunks=4, n_edges=1000, n_keys=50),
    "toy": dict(n_parents=40, chunks=2, n_edges=30, n_keys=6),
}


class Model:
    """What the KB must contain after every call so far."""

    def __init__(self, emb: gen.ClusteredEmbedding):
        self.emb = emb
        self.docs: dict[int, dict] = {}
        self.children: dict[int, list[int]] = {}
        self.vec_ids: list[int] = []
        self.row_of: dict[int, int] = {}
        self.vecs = np.zeros((0, emb.dim), dtype=np.float32)
        self.keyval: dict[str, object] = {}
        self.edges: set[tuple[int, int, int]] = set()
        self.parents: list[int] = []
        self.rels: list[int] = []
        self.recent: list[int] = []

    def add_docs(self, rows: list[tuple[int, str, int | None, bool]]) -> None:
        """rows: (id, text, parent_id, embedded)."""
        embedded = [(i, t) for i, t, _p, e in rows if e]
        for doc_id, text, parent, _e in rows:
            level = 0 if parent is None else self.docs[parent]["level"] + 1
            self.docs[doc_id] = {"text": text, "parent_id": parent,
                                 "level": level, "meta": None}
            if parent is not None:
                self.children.setdefault(parent, []).append(doc_id)
        if embedded:
            for i, _t in embedded:
                self.row_of[i] = len(self.vec_ids)
                self.vec_ids.append(i)
            self.vecs = np.vstack([self.vecs, self.emb.matrix([t for _i, t in embedded])])

    def topk_ok(self, got: list[tuple[int, float]], query: str, k: int) -> bool:
        q = self.emb.matrix([query])[0].astype(np.float64)
        scores = self.vecs.astype(np.float64) @ q
        ids = np.asarray(self.vec_ids)
        return common.topk_ok(got, ids, scores, self.row_of, k)


def _same_record(rec: dict, doc_id: int, want: dict, embedded: bool) -> bool:
    return (rec["id"] == doc_id and rec["text"] == want["text"]
            and rec["parent_id"] == want["parent_id"]
            and rec["level"] == want["level"] and rec["meta"] == want["meta"]
            and bool(rec["embedding"]) == embedded)


class KbServe:
    def __init__(self, spark, run_dir: common.RunDir, seed: int, size: str,
                 tally: common.Tally, corrupt: bool = False):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.size = SIZES[size]
        self.tally = tally
        self.corrupt = corrupt
        self.emb = gen.ClusteredEmbedding(seed=seed)

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        from svs_spark.kb import KnowledgeBase

        t0 = time.perf_counter()
        s = self.size
        d = gen.kb_docs(self.seed, s["n_parents"], s["chunks"], s["n_edges"], s["n_keys"])
        self.kb = KnowledgeBase(self.spark, self.run_dir.sub("kb"),
                                embedding_func=self.emb, force_fresh_db=True)
        m = self.model = Model(self.emb)
        rows = []
        with self.kb.bulk_add_docs() as add:
            for text in d.rel_texts:
                rows.append((add(text, no_embedding=True), text, None, False))
            m.rels = [r[0] for r in rows]
            for text, chunks in zip(d.parents, d.children):
                pid = add(text)
                rows.append((pid, text, None, True))
                m.parents.append(pid)
                for c in chunks:
                    rows.append((add(c, parent_id=pid), c, pid, True))
        m.add_docs(rows)
        with self.kb.bulk_graph_update() as g:
            for a, b, r in d.edges:
                g.add_edge(m.parents[a], m.parents[b], m.rels[r])
                m.edges.add((m.parents[a], m.parents[b], m.rels[r]))
        with self.kb.bulk_keyval_update() as kv:
            for k, v in d.keyval.items():
                kv.set(k, v)
        m.keyval.update(d.keyval)
        self.kb.load()
        t1 = time.perf_counter()
        # warm-up: the one call kind whose first call is much slower than
        # the rest (the build already ran the write paths once)
        self._call("retrieve", gen.OpStream(self.seed + 10_000))
        self.setup_phases = {"kb_build_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def warehouse_roots(self) -> list[str]:
        return [self.run_dir.sub("kb")]

    # -- one call -----------------------------------------------------------------

    def _pick_doc(self, ops: gen.OpStream) -> int:
        m = self.model
        if m.recent and ops.integer(10) < 3:
            return ops.pick(m.recent)
        return ops.pick(list(m.docs))

    def _call(self, kind: str, ops: gen.OpStream) -> float:
        """Run one call of ``kind``; return its latency in seconds and
        record the outcome of its check in the tally."""
        kb, m = self.kb, self.model
        try:
            if kind == "retrieve":
                q = ops.query_text()
                t0 = time.perf_counter()
                res = kb.retrieve(q, 10)
                dt = time.perf_counter() - t0
                got = [(r["doc"]["id"], r["score"]) for r in res]
                if self.corrupt:
                    got = got[1:] + got[:1]
                ok = m.topk_ok(got, q, 10) and all(
                    r["doc"]["text"] == m.docs[r["doc"]["id"]]["text"] for r in res
                )
                self.tally.check(ok, f"retrieve {q!r}: got {got[:3]}")
            elif kind in ("query_doc", "fetch_doc_with_emb_id"):
                doc_id = self._pick_doc(ops)
                t0 = time.perf_counter()
                rec = getattr(kb, kind)(doc_id)
                dt = time.perf_counter() - t0
                embedded = doc_id not in m.rels
                ok = _same_record(rec, doc_id, m.docs[doc_id], embedded)
                if ok and kind == "fetch_doc_with_emb_id" and embedded:
                    ok = np.allclose(np.asarray(rec["embedding"]), m.vecs[m.row_of[doc_id]],
                                     atol=1e-7)
                self.tally.check(ok, f"{kind} {doc_id}: {rec}")
            elif kind == "query_children":
                pid = ops.pick(m.parents)
                t0 = time.perf_counter()
                recs = kb.query_children(pid)
                dt = time.perf_counter() - t0
                ok = [r["id"] for r in recs] == sorted(m.children.get(pid, []))
                self.tally.check(ok, f"query_children {pid}")
            elif kind == "kv_get":
                key = ops.pick(sorted(m.keyval))
                t0 = time.perf_counter()
                with kb.bulk_keyval_update() as kv:
                    val = kv.get(key)
                dt = time.perf_counter() - t0
                self.tally.check(val == m.keyval[key], f"kv_get {key}: {val!r}")
            elif kind == "kv_set":
                key = f"key{ops.integer(2 * len(m.keyval) + 2)}"
                val = ops.integer(1 << 30)
                t0 = time.perf_counter()
                with kb.bulk_keyval_update() as kv:
                    kv.set(key, val)
                dt = time.perf_counter() - t0
                m.keyval[key] = val
                self.tally.ok()
            elif kind == "add_doc":
                pid = ops.pick(m.parents)
                text = ops.doc_text()
                t0 = time.perf_counter()
                new_id = kb.add_doc(text, parent_id=pid)
                dt = time.perf_counter() - t0
                if self.tally.check(new_id not in m.docs, f"add_doc reused id {new_id}"):
                    m.add_docs([(new_id, text, pid, True)])
                    m.recent.append(new_id)
            elif kind == "update_doc_meta":
                doc_id = self._pick_doc(ops)
                meta = {"rev": ops.integer(1000), "tag": f"t{ops.integer(50)}"}
                t0 = time.perf_counter()
                kb.update_doc_meta(doc_id, meta)
                dt = time.perf_counter() - t0
                m.docs[doc_id]["meta"] = meta
                m.recent.append(doc_id)
                self.tally.ok()
            elif kind == "add_edge":
                while True:
                    a, b = ops.pick(m.parents), ops.pick(m.parents)
                    r = ops.pick(m.rels)
                    if a != b and (a, b, r) not in m.edges:
                        break
                t0 = time.perf_counter()
                kb.add_edge(a, b, r)
                dt = time.perf_counter() - t0
                m.edges.add((a, b, r))
                self.tally.ok()
            else:
                raise ValueError(kind)
        except Exception as e:  # noqa: BLE001 — a failed call is counted, the run goes on
            self.tally.fail(f"{kind}: {type(e).__name__}: {e}")
            return float("nan")
        return dt

    # -- timed region --------------------------------------------------------------

    def timed(self, seconds: float, tracer=None) -> dict:
        """Whole decks of calls until at least ``seconds`` of call time.
        Returns {kind: [latency_s, ...]}."""
        ops = gen.OpStream(self.seed)
        lat: dict[str, list[float]] = {k: [] for k in gen.KB_DECK}
        busy = 0.0
        while busy < seconds:
            for kind in gen.KB_DECK:
                if tracer is not None:
                    with tracer.op(kind):
                        dt = self._call(kind, ops)
                else:
                    dt = self._call(kind, ops)
                if not math.isnan(dt):
                    lat[kind].append(dt)
                    busy += dt
        return lat

    def summarize(self, lat: dict) -> tuple[dict, dict]:
        all_calls = [x for v in lat.values() for x in v]
        reads = [x for k in gen.KB_READS for x in lat[k]]
        writes = [x for k, v in lat.items() if k not in gen.KB_READS for x in v]
        metrics = {
            "ops_per_s": common.metric(len(all_calls) / sum(all_calls), "1/s"),
            "retrieve_p50_ms": common.metric(1000 * common.median(lat["retrieve"]), "ms"),
            "call_geomean_ms": common.metric(1000 * common.geomean_of_medians(lat), "ms"),
        }
        detail = {
            "retrieve_p90_ms": 1000 * common.percentile(lat["retrieve"], 90),
            "retrieve_samples": len(lat["retrieve"]),
            "read_p50_ms": 1000 * common.median(reads),
            "write_p50_ms": 1000 * common.median(writes),
            "calls": len(all_calls),
            "bytes_per_doc": common.dir_bytes(self.run_dir.sub("kb")) / len(self.model.docs),
            "per_kind_p50_ms": {k: 1000 * common.median(v) for k, v in lat.items() if v},
        }
        return metrics, detail

