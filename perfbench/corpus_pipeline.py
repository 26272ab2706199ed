"""``corpus_pipeline``: the bulk side, as one batch job: curation of a
templated corpus into a KB, an IVF index and batch search, then the
frozen registry queries (``perfbench/registry.py``) over seeded sf0.1
tables.

One pass, all through the program's public API:

1. ingest + exact dedup: ``sources.corpus.ingest_jsonl`` keys each row
   by ``xxhash64(source, text)``, so exact copies collapse here
2. near-dup: ``operators.dedup.minhash_lsh_pairs`` (``minhash``) then
   ``connected_components`` (``components``); each cluster keeps its
   canonical (min) id
3. KB: ``KnowledgeBase.add_documents_df`` into a fresh warehouse, with
   ``functions.text.detect_language`` and ``quality_score`` as each
   doc's meta; it embeds the survivors through
   ``functions.embeddings.embed_df`` with the benchmark's
   ``ClusteredEmbedding``
4. IVF: ``operators.index_build.train_centroids_sample`` and
   ``build_ivf_index`` over the KB's vectors
5. search: one ``operators.similarity.knn_join_batch`` call for a batch
   of exact queries, then single ``index_build.search_ivf_index`` calls
6. registry: each frozen query built from ``svs_spark.queries`` and
   collected

There is no warm-up pass: a batch pipeline runs once per job, so the
pass is timed from a cold engine, as a job would pay it.
Outputs are checked against the generator's planted truth and NumPy,
after the pass and outside its timing.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from perfbench import common, gen, registry

SIZES = {
    "full": dict(n_docs=2000, knn_queries=64, ivf_queries=8, clusters=16, sf=0.1),
    "toy": dict(n_docs=400, knn_queries=8, ivf_queries=4, clusters=4, sf=0.002),
}
STEPS = ("ingest", "minhash", "components", "kb_ingest", "ivf_train", "ivf_build")


class CorpusPipeline:
    def __init__(self, spark, run_dir: common.RunDir, seed: int, size: str,
                 tally: common.Tally, corrupt: bool = False):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.size = SIZES[size]
        self.tally = tally
        self.corrupt = corrupt
        self.emb = gen.ClusteredEmbedding(seed=seed)
        self.passes = 0

    def _write_input(self, name: str, corpus: gen.Corpus) -> str:
        path = self.run_dir.sub(f"{name}.jsonl")
        with open(path, "w") as f:
            for text in corpus.texts:
                f.write(json.dumps({"text": text}) + "\n")
        return path

    def _queries(self, n: int, salt: int) -> list[tuple[int, list[float]]]:
        ops = gen.OpStream(self.seed + salt)
        texts = [ops.query_text() for _ in range(n)]
        return list(enumerate(self.emb(texts)))

    def setup(self) -> None:
        t0 = time.perf_counter()
        s = self.size
        self.corpus = gen.corpus(self.seed, s["n_docs"])
        self.input = self._write_input("input", self.corpus)
        self.knn_q = self._queries(s["knn_queries"], 20_000)
        self.ivf_q = self._queries(s["ivf_queries"], 30_000)
        self.sf_dir = self.run_dir.sub("sf")
        registry.write_tables(self.sf_dir, self.seed, s["sf"])
        self.queries = registry.builders()
        self.setup_phases = {"inputs_s": time.perf_counter() - t0}

    def warehouse_roots(self) -> list[str]:
        return [self.run_dir.sub(f"pass{i}/kb") for i in range(1, self.passes + 1)]

    # -- one pass ---------------------------------------------------------------

    def one_pass(self, path, knn_q, ivf_q, clusters, tracer=None) -> dict:
        """Run the pipeline once; return per-step latencies and outputs."""
        from pyspark.sql import functions as F

        from svs_spark.functions import text as T
        from svs_spark.kb import KnowledgeBase
        from svs_spark.operators import dedup, index_build, similarity
        from svs_spark.queries import release_caches
        from svs_spark.sources.corpus import ingest_jsonl

        self.passes += 1
        root = self.run_dir.sub(f"pass{self.passes}")
        lat: dict[str, list[float]] = {}
        out: dict = {"root": root}

        def step(kind, fn):
            t0 = time.perf_counter()
            if tracer is not None:
                with tracer.op(kind):
                    r = fn()
            else:
                r = fn()
            lat.setdefault(kind, []).append(time.perf_counter() - t0)
            return r

        def ingest():
            df = ingest_jsonl(self.spark, path, "corpus").select("doc_id", "text").persist()
            out["n_exact"] = df.count()
            return df

        docs = step("ingest", ingest)

        def minhash():
            pairs = dedup.minhash_lsh_pairs(
                docs, id_col="doc_id", text_col="text",
                num_hashes=16, bands=8, jaccard_threshold=0.5,
            ).persist()
            out["n_pairs"] = pairs.count()
            return pairs

        pairs = step("minhash", minhash)

        def components():
            labels = dedup.connected_components(pairs).collect()
            pairs.unpersist()
            clusters: dict[int, list[int]] = {}
            for r in labels:
                clusters.setdefault(r["canonical_id"], []).append(r["doc_id"])
            return clusters

        out["clusters"] = step("components", components)
        if tracer is not None:
            tracer.add("dedup.pairs", out["n_pairs"])
            tracer.add("dedup.clusters", len(out["clusters"]))
        absorbed = [d for c, m in out["clusters"].items() for d in m if d != c]
        survivors = docs.filter(~F.col("doc_id").isin(absorbed)) if absorbed else docs

        kb = KnowledgeBase(self.spark, os.path.join(root, "kb"),
                           embedding_func=self.emb, force_fresh_db=True)

        def kb_ingest():
            meta = F.to_json(F.struct(
                T.detect_language("text").alias("lang"),
                F.round(T.quality_score("text"), 4).alias("quality"),
            ))
            return kb.add_documents_df(
                survivors.withColumn("meta", meta), id_col="doc_id",
                meta_json_col="meta",
            )

        out["n_added"] = step("kb_ingest", kb_ingest)
        docs.unpersist()
        vecs = kb.docs.select(F.col("id").alias("vec_id"), "embedding")
        cent = step("ivf_train", lambda: index_build.train_centroids_sample(
            vecs, clusters, sample_rows=20_000))
        index = os.path.join(root, "ivf")
        step("ivf_build", lambda: index_build.build_ivf_index(vecs, index, cent))
        if tracer is not None:
            tracer.add("index_build.bytes", common.dir_bytes(index))
        out["pipeline_s"] = sum(v[0] for v in lat.values())

        out["knn"] = step("knn_batch", lambda: similarity.knn_join_batch(
            vecs, knn_q, 10).collect())
        idx_df = self.spark.read.parquet(index)
        meta = index_build.read_index_meta(index)
        out["ivf"] = [
            step("ivf_query", lambda q=q: index_build.search_ivf_index(
                idx_df, meta, q, 10, probes=4).collect())
            for _qid, q in ivf_q
        ]

        def run_query(build):
            df = build(self.spark, self.sf_dir)
            return df.columns, df.collect()

        out["registry"] = {q: step(q, lambda b=b: run_query(b)) for q, b in self.queries.items()}
        out["kb"] = kb
        out["lat"] = lat
        out["knn_q"], out["ivf_q"] = knn_q, ivf_q
        release_caches()
        return out

    # -- checks -------------------------------------------------------------------

    def check(self, out: dict, corpus: gen.Corpus) -> None:
        t = self.tally
        clusters = [m for m in out["clusters"].values() if len(m) > 1]
        n_clusters = len(clusters) + (1 if self.corrupt else 0)
        t.check(n_clusters == len(corpus.families),
                f"near-dup clusters {n_clusters} != planted {len(corpus.families)}")
        t.check(out["n_exact"] == corpus.n_distinct,
                f"exact dedup kept {out['n_exact']} != {corpus.n_distinct}")
        rows = out["kb"].docs.select("id", "text").collect()
        t.check(len(rows) == corpus.n_survivors == out["n_added"],
                f"KB holds {len(rows)} docs, added {out['n_added']}, "
                f"survivors {corpus.n_survivors}")
        texts = {r["text"] for r in rows}
        fam_ok = all(sum(x in texts for x in fam) == 1 for fam in corpus.families)
        t.check(fam_ok and len(texts) == len(rows),
                "KB must hold exactly one text of each planted family, no copies")
        ids = np.asarray([r["id"] for r in rows], dtype=np.int64)
        mat = self.emb.matrix([r["text"] for r in rows]).astype(np.float64)
        row_of = {int(i): j for j, i in enumerate(ids)}
        by_q: dict[int, list] = {}
        for r in out["knn"]:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["score"]))
        for qid, q in out["knn_q"]:
            got = [(i, s) for _r, i, s in sorted(by_q.get(qid, []))]
            scores = np.round(mat @ np.asarray(q, dtype=np.float64), 6)
            t.check(common.topk_ok(got, ids, scores, row_of, 10, tol=2e-6),
                    f"knn_join_batch query {qid}: {got[:3]}")
        recalls = []
        for (qid, q), res in zip(out["ivf_q"], out["ivf"]):
            scores = mat @ np.asarray(q, dtype=np.float64)
            got = [(r["vec_id"], r["score"]) for r in res]
            t.check(len(got) == 10 and all(
                i in row_of and abs(scores[row_of[i]] - s) <= 1e-6 for i, s in got),
                f"search_ivf_index query {qid}: wrong ids or scores")
            exact = set(ids[np.lexsort((-ids, -scores))[:10]].tolist())
            recalls.append(len(exact & {i for i, _ in got}) / 10)
        out["recall_at_10"] = float(np.mean(recalls))
        registry.check(t, self.sf_dir, out["registry"], self.corrupt)
        out["bytes_per_doc"] = common.dir_bytes(os.path.join(out["root"], "kb")) / max(1, len(rows))

    # -- timed region -------------------------------------------------------------

    def timed(self, seconds: float, tracer=None) -> dict:
        """Whole passes until at least ``seconds`` of pipeline time."""
        s = self.size
        lat: dict[str, list[float]] = {}
        self.outs = []
        busy = 0.0
        while busy < seconds:
            out = self.one_pass(self.input, self.knn_q, self.ivf_q, s["clusters"], tracer)
            self.check(out, self.corpus)
            for k, v in out.pop("lat").items():
                lat.setdefault(k, []).extend(v)
            busy += out["pipeline_s"]
            out.pop("kb")
            self.outs.append(out)
        return lat

    def summarize(self, lat: dict) -> tuple[dict, dict]:
        n = self.size["n_docs"]
        pipe = [sum(lat[k][i] for k in STEPS) for i in range(len(lat["ingest"]))]
        metrics = {
            "ops_per_s": common.metric(n / common.median(pipe), "1/s"),
            "retrieve_p50_ms": common.metric(1000 * common.median(lat["ivf_query"]), "ms"),
            "call_geomean_ms": common.metric(1000 * common.geomean_of_medians(lat), "ms"),
        }
        detail = {
            "pipeline_docs_per_s": n / common.median(pipe),
            "passes": len(pipe),
            "search_qps": self.size["knn_queries"] / common.median(lat["knn_batch"]),
            "ivf_query_p50_ms": 1000 * common.median(lat["ivf_query"]),
            "ivf_recall_at_10": common.median([o["recall_at_10"] for o in self.outs]),
            "bytes_per_doc": self.outs[-1]["bytes_per_doc"],
            "registry_qps": len(registry.QUERIES) / sum(
                common.median(lat[q]) for q in registry.QUERIES),
            "per_step_p50_ms": {k: 1000 * common.median(v) for k, v in lat.items()},
        }
        return metrics, detail
