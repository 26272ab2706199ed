"""Per-layer tracing, installed from the benchmark's side only.

:class:`Tracer` wraps the public functions and methods of each layer
(``kb``, ``warehouse``, ``embeddings``, ``dedup``, ``similarity``,
``index_build``) and records one span per call: name, layer, start, end,
parent span and op id. Each benchmark call is an *op* span; every span
sets its own Spark job group, so every Spark job is attributed to the
innermost span running when the job was submitted. Many layer calls
only build a lazy DataFrame whose jobs run when the benchmark
materialises it, so Spark work of a lazy call shows up on the op that
made the call. Job and stage metrics come from the Spark UI's REST API
(on localhost) after the traced region ends.

Layer metrics use fixed names (:data:`LAYER_METRICS`, mirrored in
``BENCHMARK.json``); a layer the workload never calls reports 0.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import json
import os
import time
import urllib.request

from perfbench import common

KB_METHODS = ("retrieve", "query_doc", "query_children", "fetch_doc_with_emb_id",
              "bulk_keyval_update", "add_doc", "bulk_add_docs", "update_doc_meta",
              "add_edge", "bulk_graph_update", "add_documents_df")
KB_CONTEXTS = ("bulk_keyval_update", "bulk_add_docs", "bulk_graph_update")
WAREHOUSE_METHODS = ("read", "read_buckets", "overwrite_buckets", "write", "write_bucketed")
# Spark stage fields summed per span and per phase (op kind) in the spans file
SPARK_FIELDS = ("numTasks", "executorCpuTime", "jvmGcTime", "inputBytes", "outputBytes",
                "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")


def _layer_metric_names() -> list[tuple[str, str, str]]:
    from perfbench.registry import QUERIES

    m = [("session.start_s", "s", "lower")]
    m += [(f"spark.{n}", u, "lower") for n, u in (
        ("jobs_per_op", "count"), ("tasks_per_op", "count"), ("driver_wait_ms", "ms"),
        ("executor_cpu_ms", "ms"), ("gc_ms", "ms"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("input_bytes", "bytes"))]
    for k in KB_METHODS:
        m += [(f"kb.{k}.calls", "count", "lower"), (f"kb.{k}.self_ms", "ms", "lower")]
    for k in WAREHOUSE_METHODS:
        m += [(f"warehouse.{k}.calls", "count", "lower"), (f"warehouse.{k}.ms", "ms", "lower")]
    m += [("warehouse.files", "count", "lower"), ("warehouse.bytes_written", "bytes", "lower")]
    m += [("embeddings.texts", "count", "lower"), ("embeddings.ms", "ms", "lower")]
    m += [("dedup.minhash_lsh_pairs.ms", "ms", "lower"), ("dedup.pairs", "count", "lower"),
          ("dedup.connected_components.ms", "ms", "lower"), ("dedup.clusters", "count", "lower")]
    m += [("index_build.train_ms", "ms", "lower"), ("index_build.build_ms", "ms", "lower"),
          ("index_build.bytes", "bytes", "lower"), ("index_build.search_ms", "ms", "lower"),
          ("index_build.probe_input_bytes", "bytes", "lower")]
    m += [("similarity.knn_join_batch.ms", "ms", "lower"),
          ("similarity.retrieve_topk.plan_ms", "ms", "lower")]
    m += [(f"registry.{q}.s", "s", "lower") for q in QUERIES]
    return m


LAYER_METRICS = _layer_metric_names()


def _epoch_ms(stamp: str | None) -> float | None:
    if not stamp:
        return None
    dt = datetime.datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return dt.timestamp() * 1000.0


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark, session_s: float):
        self.sc = spark.sparkContext
        self.session_s = session_s
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts: dict[str, float] = {}
        self.op_id = 0
        self._patches: list[tuple[object, str, object]] = []
        self.emb_texts = self.sc.accumulator(0)
        self.emb_ms = self.sc.accumulator(0.0)

    # -- spans ---------------------------------------------------------------------

    def _open(self, name: str, layer: str) -> dict:
        parent = self.stack[-1] if self.stack else None
        span = {"id": len(self.spans), "parent": parent["id"] if parent else None,
                "op": self.op_id, "name": name, "layer": layer,
                "group": f"perfbench-span-{len(self.spans)}", "start": time.time()}
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(span["group"], name)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1]["group"], self.stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self._open(name, layer)
        try:
            yield s
        finally:
            self._close(s)

    @contextlib.contextmanager
    def op(self, kind: str):
        """One benchmark call (a top-level span with a fresh op id)."""
        self.op_id += 1
        with self.span(kind, "op"):
            yield

    def add(self, counter: str, value: float) -> None:
        self.counts[counter] = self.counts.get(counter, 0) + value

    # -- installation ----------------------------------------------------------------

    def _patch(self, owner, attr: str, layer: str, name: str, context: bool = False):
        orig = getattr(owner, attr)
        tracer = self

        if context:
            @functools.wraps(orig)
            @contextlib.contextmanager
            def wrapper(*a, **kw):
                with tracer.span(name, layer), orig(*a, **kw) as v:
                    yield v
        else:
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with tracer.span(name, layer):
                    return orig(*a, **kw)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    @contextlib.contextmanager
    def installed(self, workload):
        import svs_spark.kb as kb_mod
        from svs_spark.functions import embeddings
        from svs_spark.operators import dedup, index_build, similarity
        from svs_spark.sources.warehouse import Warehouse

        for m in KB_METHODS:
            self._patch(kb_mod.KnowledgeBase, m, "kb", m, context=m in KB_CONTEXTS)
        for m in WAREHOUSE_METHODS:
            self._patch(Warehouse, m, "warehouse", m)
        self._patch(embeddings, "embed_df", "embeddings", "embed_df")
        self._patch(kb_mod, "embed_df", "embeddings", "embed_df")
        for fn in ("minhash_lsh_pairs", "connected_components"):
            self._patch(dedup, fn, "dedup", fn)
        for fn in ("knn_join_batch", "retrieve_topk"):
            self._patch(similarity, fn, "similarity", fn)
        for fn in ("train_centroids_sample", "build_ivf_index", "search_ivf_index"):
            self._patch(index_build, fn, "index_build", fn)
        emb = workload.emb
        if emb is not None:
            emb.counters = (self.emb_texts, self.emb_ms)
        try:
            yield self
        finally:
            if emb is not None:
                emb.counters = None
            for owner, attr, orig in reversed(self._patches):
                setattr(owner, attr, orig)
            self._patches.clear()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.warehouse_files = sum(
                len(files) for root in workload.warehouse_roots()
                for _d, _s, files in os.walk(root)
            )

    # -- Spark attribution -------------------------------------------------------------

    def _rest(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:  # noqa: S310 — localhost UI
            return json.loads(r.read())

    def _fetch_spark(self) -> None:
        """Jobs and stages of the traced region, keyed to spans."""
        groups = {s["group"]: s for s in self.spans}
        for _ in range(50):  # the status store trails the listener bus
            jobs = [j for j in self._rest("jobs") if j.get("jobGroup") in groups]
            if all(j.get("completionTime") for j in jobs):
                break
            time.sleep(0.1)
        stages = {s["stageId"]: s for s in self._rest("stages?status=complete")}
        for s in self.spans:
            s["jobs"], s["stages"] = [], []
        for j in jobs:
            span = groups[j["jobGroup"]]
            span["jobs"].append(j["jobId"])
            for sid in j["stageIds"]:
                if sid in stages:
                    span["stages"].append(sid)
        self.stage_data = stages

    def _stage_sum(self, stage_ids, field: str) -> float:
        return float(sum(self.stage_data[s].get(field, 0) or 0 for s in stage_ids))

    # -- metrics ----------------------------------------------------------------------

    def write(self, workload: str, seed: int) -> str:
        """Fetch the Spark job and stage data, compute self times and
        write the spans file; returns its path relative to the checkout.
        Call once, after the traced region and before
        :meth:`layer_metrics`."""
        self._fetch_spark()
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s["ms"] = 1000 * (s["end"] - s["start"])
            s["self_ms"] = s["ms"]
        for s in self.spans:
            if s["parent"] is not None:
                by_id[s["parent"]]["self_ms"] -= s["ms"]
        out_dir = os.path.join(common.ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{workload}-seed{seed}.json")
        spans = []
        phases: dict[str, dict[str, float]] = {}
        op_kind = {s["op"]: s["name"] for s in self.spans if s["layer"] == "op"}
        for s in self.spans:
            rec = {k: s[k] for k in ("id", "parent", "op", "name", "layer", "start", "end",
                                     "ms", "self_ms", "jobs")}
            rec["spark"] = {f: self._stage_sum(s["stages"], f) for f in SPARK_FIELDS}
            spans.append(rec)
            phase = phases.setdefault(op_kind.get(s["op"], "none"), dict.fromkeys(SPARK_FIELDS, 0.0))
            for f, v in rec["spark"].items():
                phase[f] += v
        with open(path, "w") as f:
            json.dump({"workload": workload, "seed": seed, "phases": phases, "spans": spans}, f)
        return os.path.relpath(path, common.ROOT)

    def layer_metrics(self) -> dict:
        ops = [s for s in self.spans if s["layer"] == "op"]
        by_op: dict[int, list[dict]] = {}
        for s in self.spans:
            by_op.setdefault(s["op"], []).append(s)

        def op_stages(op):
            return [sid for s in by_op[op["op"]] for sid in s["stages"]]

        n_ops = max(1, len(ops))
        all_stages = [sid for s in self.spans for sid in s["stages"]]
        waits = []
        for op in ops:
            st = [self.stage_data[sid] for sid in op_stages(op)]
            iv = [(_epoch_ms(x["submissionTime"]), _epoch_ms(x["completionTime"]))
                  for x in st if x.get("submissionTime") and x.get("completionTime")]
            lo, hi = 1000 * op["start"], 1000 * op["end"]
            waits.append((hi - lo) - _union_ms(iv, lo, hi))

        v: dict[str, float] = {
            "session.start_s": self.session_s,
            "spark.jobs_per_op": sum(len(s["jobs"]) for s in self.spans) / n_ops,
            "spark.tasks_per_op": self._stage_sum(all_stages, "numTasks") / n_ops,
            "spark.driver_wait_ms": sum(waits) / n_ops,
            "spark.executor_cpu_ms": self._stage_sum(all_stages, "executorCpuTime") / 1e6 / n_ops,
            "spark.gc_ms": self._stage_sum(all_stages, "jvmGcTime") / n_ops,
            "spark.shuffle_write_bytes": self._stage_sum(all_stages, "shuffleWriteBytes") / n_ops,
            "spark.spill_bytes": (self._stage_sum(all_stages, "memoryBytesSpilled")
                                  + self._stage_sum(all_stages, "diskBytesSpilled")) / n_ops,
            "spark.input_bytes": self._stage_sum(all_stages, "inputBytes") / n_ops,
            "warehouse.files": self.warehouse_files,
            "embeddings.texts": self.emb_texts.value,
            "embeddings.ms": self.emb_ms.value,
        }

        def spans_of(layer, name):
            return [s for s in self.spans if s["layer"] == layer and s["name"] == name]

        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0

        for m in KB_METHODS:
            ss = spans_of("kb", m)
            v[f"kb.{m}.calls"] = len(ss)
            v[f"kb.{m}.self_ms"] = mean([s["self_ms"] for s in ss])
        wh_stages = []
        for m in WAREHOUSE_METHODS:
            ss = spans_of("warehouse", m)
            v[f"warehouse.{m}.calls"] = len(ss)
            v[f"warehouse.{m}.ms"] = mean([s["ms"] for s in ss])
            wh_stages += [sid for s in ss for sid in s["stages"]]
        v["warehouse.bytes_written"] = self._stage_sum(wh_stages, "outputBytes")

        def op_ms(kind):
            return mean([s["ms"] for s in ops if s["name"] == kind])

        v["dedup.minhash_lsh_pairs.ms"] = op_ms("minhash")
        v["dedup.connected_components.ms"] = op_ms("components")
        v["dedup.pairs"] = self.counts.get("dedup.pairs", 0)
        v["dedup.clusters"] = self.counts.get("dedup.clusters", 0)
        v["index_build.train_ms"] = op_ms("ivf_train")
        v["index_build.build_ms"] = op_ms("ivf_build")
        v["index_build.bytes"] = self.counts.get("index_build.bytes", 0)
        v["index_build.search_ms"] = op_ms("ivf_query")
        probe_ops = [o for o in ops if o["name"] == "ivf_query"]
        v["index_build.probe_input_bytes"] = mean(
            [self._stage_sum(op_stages(o), "inputBytes") for o in probe_ops])
        v["similarity.knn_join_batch.ms"] = op_ms("knn_batch")
        v["similarity.retrieve_topk.plan_ms"] = mean(
            [s["ms"] for s in spans_of("similarity", "retrieve_topk")])
        for name, _unit, _b in LAYER_METRICS:
            if name.startswith("registry."):
                v[name] = op_ms(name[len("registry."):-len(".s")]) / 1000
        return {name: common.metric(v[name], unit) for name, unit, _b in LAYER_METRICS}
