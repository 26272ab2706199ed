"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its ``seed`` argument: the same
seed gives byte-identical inputs. The program under test only ever sees
the generated tables, texts and calls, never the generators themselves.

- :class:`ClusteredEmbedding` — the deterministic ``EmbeddingFunc``
  (clustered, hash-seeded unit vectors) used by every workload.
- :func:`kb_docs` / :class:`OpStream` — the ``kb_serve`` knowledge base
  and its closed-loop call sequence.
- :func:`corpus` — the ``corpus_pipeline`` templated corpus with its
  planted exact-copy and near-duplicate ground truth.
- :func:`registry_tables` — the TPC-H-ish star schema, event stream,
  documents and embeddings tables the registry queries read.
"""

from __future__ import annotations

import time
import zlib
from dataclasses import dataclass

import numpy as np

DIM = 256
N_TOPICS = 64
COMMON_WORDS = [
    "the", "a", "of", "and", "is", "to", "in", "for", "with", "on",
    "data", "table", "query", "vector", "index", "stream", "batch", "row",
]


def topic_words(topic: int) -> list[str]:
    """Topic vocabulary: 48 synthetic words unique to the topic."""
    return [f"w{topic}x{j}" for j in range(48)]


def topic_of(text: str) -> int:
    """A text's cluster: the ``t<k>`` token it starts with, else a hash."""
    head = text.split(" ", 1)[0]
    if head[:1] == "t" and head[1:].isdigit():
        return int(head[1:]) % N_TOPICS
    return zlib.crc32(text.encode()) % N_TOPICS


class ClusteredEmbedding:
    """Deterministic clustered unit-vector ``EmbeddingFunc``.

    A text's vector is its topic centroid plus hash-seeded noise,
    normalised to unit length: texts of one topic have cosine ~0.6 with
    each other and ~0 with other topics, so top-k retrieval and IVF
    clustering see realistic structure. Pure function of (text, seed);
    picklable by import path, so Spark workers rebuild it by import.
    """

    def __init__(self, dim: int = DIM, seed: int = 0):
        self.dim = dim
        self.seed = seed
        # (texts, milliseconds) Spark accumulators while a trace runs
        self.counters = None
        self._centroids: np.ndarray | None = None

    def __getstate__(self):
        return {"dim": self.dim, "seed": self.seed, "counters": self.counters}

    def __setstate__(self, state):
        self.__init__(state["dim"], state["seed"])
        self.counters = state["counters"]

    def centroids(self) -> np.ndarray:
        if self._centroids is None:
            rng = np.random.default_rng([self.seed, 7])
            c = rng.standard_normal((N_TOPICS, self.dim))
            self._centroids = c / np.linalg.norm(c, axis=1, keepdims=True)
        return self._centroids

    def matrix(self, texts: list[str]) -> np.ndarray:
        """(len(texts), dim) float32 unit rows."""
        cent = self.centroids()
        out = np.empty((len(texts), self.dim), dtype=np.float64)
        for i, t in enumerate(texts):
            h = zlib.crc32(t.encode())
            noise = np.random.default_rng([self.seed, h]).standard_normal(self.dim)
            out[i] = 0.8 * cent[topic_of(t)] + 0.6 * noise / np.sqrt(self.dim)
        out /= np.linalg.norm(out, axis=1, keepdims=True)
        return out.astype(np.float32)

    def __call__(self, texts: list[str]) -> list[list[float]]:
        if self.counters is None:
            return self.matrix(list(texts)).tolist()
        t0 = time.perf_counter()
        out = self.matrix(list(texts)).tolist()
        self.counters[0].add(len(out))
        self.counters[1].add(1000 * (time.perf_counter() - t0))
        return out


def _sentence(rng: np.random.Generator, topic: int, n_words: int) -> str:
    vocab = topic_words(topic) + COMMON_WORDS
    words = rng.choice(vocab, size=n_words)
    return f"t{topic} " + " ".join(words)


# -- kb_serve ---------------------------------------------------------------


@dataclass
class KbDocs:
    """Generated knowledge-base content (ids are assigned by the KB)."""

    parents: list[str]
    children: list[list[str]]  # children[i] = chunk texts of parent i
    edges: list[tuple[int, int, int]]  # (parent index, parent index, rel index)
    keyval: dict[str, object]
    rel_texts: list[str]


def kb_docs(seed: int, n_parents: int, chunks_per_parent: int,
            n_edges: int, n_keys: int) -> KbDocs:
    rng = np.random.default_rng([seed, 1])
    parents, children = [], []
    for _ in range(n_parents):
        topic = int(rng.integers(N_TOPICS))
        parents.append(_sentence(rng, topic, int(rng.integers(30, 60))))
        children.append(
            [_sentence(rng, topic, int(rng.integers(10, 20)))
             for _ in range(chunks_per_parent)]
        )
    rel_texts = [f"relation kind {r}" for r in range(4)]
    edges: set[tuple[int, int, int]] = set()
    while len(edges) < n_edges:
        a, b = (int(x) for x in rng.integers(n_parents, size=2))
        if a != b:
            edges.add((a, b, int(rng.integers(len(rel_texts)))))
    keyval: dict[str, object] = {}
    for i in range(n_keys):
        keyval[f"key{i}"] = (
            int(rng.integers(1 << 30)) if i % 2 else f"value-{int(rng.integers(1 << 30))}"
        )
    return KbDocs(parents, children, sorted(edges), keyval, rel_texts)


# Closed-loop call mix: one deck of 40 calls, 36 reads (16 of them
# retrieves) and one call of each of the four write kinds, so 90% reads.
# The order is fixed so that every run sees the same pattern of cache
# invalidation (a docs write drops the KB's cached docs view): three of
# the retrieves are the first call after a write, the rest run on a
# built view. The seed picks every call's arguments.
KB_DECK = (
    "retrieve", "query_doc", "retrieve", "fetch_doc_with_emb_id", "add_doc",
    "retrieve", "query_children", "retrieve", "kv_get", "query_doc",
    "retrieve", "query_doc", "retrieve", "fetch_doc_with_emb_id", "update_doc_meta",
    "retrieve", "query_children", "retrieve", "query_children", "query_doc",
    "retrieve", "query_doc", "retrieve", "fetch_doc_with_emb_id", "add_edge",
    "retrieve", "query_children", "retrieve", "kv_get", "query_doc",
    "retrieve", "query_doc", "retrieve", "fetch_doc_with_emb_id", "retrieve",
    "query_children", "retrieve", "fetch_doc_with_emb_id", "query_doc", "kv_set",
)
KB_READS = ("retrieve", "query_doc", "query_children", "fetch_doc_with_emb_id", "kv_get")


class OpStream:
    """Seeded argument source for the ``kb_serve`` call decks.

    The caller draws each call's arguments against its current view of
    the KB (ids that exist now), so reads can target documents written
    earlier in the run.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])

    def query_text(self) -> str:
        return _sentence(self.rng, int(self.rng.integers(N_TOPICS)), 6)

    def doc_text(self) -> str:
        return _sentence(self.rng, int(self.rng.integers(N_TOPICS)), 24)

    def pick(self, ids: list[int]) -> int:
        return ids[int(self.rng.integers(len(ids)))]

    def integer(self, n: int) -> int:
        return int(self.rng.integers(n))


# -- corpus_pipeline ---------------------------------------------------------


@dataclass
class Corpus:
    texts: list[str]
    n_distinct: int  # distinct texts (= rows after exact dedup)
    n_survivors: int  # docs left after exact + near-dup dedup
    families: list[list[str]]  # texts of each planted near-dup family


def _variant(rng: np.random.Generator, words: list[str], topic: int) -> list[str]:
    """``words`` with one word (never the topic token) replaced: at most
    three 3-word shingles change, so Jaccard to the original stays
    >= ~0.85 for texts of 40+ words."""
    out = list(words)
    out[int(rng.integers(1, len(out)))] = f"v{topic}y{int(rng.integers(1 << 20))}"
    return out


def corpus(seed: int, n_docs: int) -> Corpus:
    """Templated corpus with planted duplicates and a recorded truth.

    ~10% of rows are exact copies of earlier rows; ~15% are members of
    near-duplicate families (a base text plus 1-3 variants with one
    word replaced each). Base texts are 40-70 words drawn from a
    topic vocabulary, so unrelated docs share almost no 3-word shingles.
    """
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    families: list[list[str]] = []
    absorbed = 0  # family members beyond the first (removed by near-dedup)
    n_exact_target = n_docs // 10
    while len(texts) < n_docs - n_exact_target:
        topic = int(rng.integers(N_TOPICS))
        words = _sentence(rng, topic, int(rng.integers(40, 70))).split(" ")
        texts.append(" ".join(words))
        if rng.random() < 0.06:
            n_var = int(rng.integers(1, 4))
            family = [texts[-1]]
            for _ in range(n_var):
                family.append(" ".join(_variant(rng, words, topic)))
            texts.extend(family[1:])
            families.append(family)
            absorbed += n_var
    n_distinct = len(texts)
    while len(texts) < n_docs:
        texts.append(texts[int(rng.integers(n_distinct))])
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    return Corpus(texts, n_distinct, n_distinct - absorbed, families)


# -- registry tables ----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["red", "new", "hot", "small", "big", "old", "cold", "blue"]
P_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
DOC_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def registry_tables(seed: int, sf: float) -> dict:
    """The registry's ten input tables as pyarrow Tables, at scale ``sf``
    (sf=1 is 6M lineitem rows; row counts follow the TPC-H ratios)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    day = np.timedelta64(1, "D")
    base = np.datetime64("1995-01-01T00:00:00", "us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": money(1000, 500_000, n_orders),
        "o_orderdate": base + rng.integers(0, 2405, n_orders) * day,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": base + rng.integers(1, 2500, n_line) * day,
    })
    ev_base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ev_base + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, n_events // 66), n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    doc_texts = []
    for i in range(n_docs):
        n_chars = int(rng.integers(44, 578))
        words = " ".join(np.array(DOC_WORDS)[rng.integers(0, 30, n_chars // 3)])
        text = words[:n_chars].rstrip()
        if rng.random() < 0.05:
            text = text + " dup"
        doc_texts.append(text)
    for i in range(n_docs // 600):  # a few exact copies for the dedup queries
        doc_texts[int(rng.integers(n_docs))] = doc_texts[int(rng.integers(n_docs))]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": doc_texts,
        "lang": np.array(DOC_LANGS)[rng.integers(0, len(DOC_LANGS), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in doc_texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    cent = rng.standard_normal((10, 64))
    emb = cent[labels] + 1.5 * rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return t
