"""The workloads and `ingest`'s curation pass: seeded inputs, the
closed-loop op cycle, and the output checks.

Every workload runs one client in a closed loop: an op is issued only
after the previous one returned.  The loop runs whole cycles of
`Workload.cycle` until about the measured time is used up, so every run
sees the same op mix.  Inputs come only from the repo's seeded generators and
from `random.Random(seed)`; the engine is driven only through its public
calls.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

import numpy as np

from crawling_vectordb_llm_spark import embedding
from crawling_vectordb_llm_spark.functions.text import quality_score
from crawling_vectordb_llm_spark.operators import (
    bm25,
    components,
    dedup,
    ivf,
    knn,
    pq,
)
from crawling_vectordb_llm_spark.plans.generate import rag_generate
from crawling_vectordb_llm_spark.plans.rag import search_pipeline
from crawling_vectordb_llm_spark.sources.crawl import crawl_ingest
from crawling_vectordb_llm_spark.sources.synthetic_documents import (
    DOC_DUP_MOD,
    DOC_EXACT_CUT,
    DOC_ORIGINAL_CUT,
    VOCAB,
    fresh_documents,
)
from crawling_vectordb_llm_spark.sources.synthetic_embeddings import (
    clustered_embeddings,
)
from crawling_vectordb_llm_spark.vectorstore import VectorCollection
from pyspark.sql import functions as F

DIM = 64  # the VectorCollection default and the fixture width
TOP_K = 3

# Sizes are per run; `smoke` is the tiny variant the benchmark's own
# tests use.  They are tuned so that a run (JVM start, set-ups, warm-up,
# measured loop, checks) takes about a minute on a 4-vCPU VM.
SIZES = {
    "full": {
        "ingest": {"base_docs": 1000, "batch_docs": 400, "recrawl_docs": 200,
                   "pool_batches": 6, "search_texts": 8,
                   "curate_docs": 1500, "curate_vectors": 1500},
        "rag_query": {"corpus_docs": 2000, "texts": 64},
    },
    "smoke": {
        "ingest": {"base_docs": 200, "batch_docs": 100, "recrawl_docs": 50,
                   "pool_batches": 4, "search_texts": 4,
                   "curate_docs": 400, "curate_vectors": 400},
        "rag_query": {"corpus_docs": 400, "texts": 8},
    },
}


class OpFailed(Exception):
    """An output check failed; counted as a failed op."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise OpFailed(what)


def _seed(seed: int, salt: int) -> int:
    """Distinct generator seeds per input family, all derived from --seed."""
    return (seed * 1_000_003 + salt) % (2**31 - 1)


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)


def corpus_matrix(texts: list[str]) -> np.ndarray:
    """Driver-side copy of what the collection stores: float32 hash
    embeddings, re-normalized in float64 the way the scorers do."""
    stored = embedding.hash_encode_batch(texts, DIM).astype(np.float32)
    return _unit_rows(stored.astype(np.float64))


def recall_at_k(qmat: np.ndarray, cmat: np.ndarray, hits: dict[int, list[int]]) -> float:
    """Tie-aware recall@k against exact top-k: a returned id counts when
    its true cosine reaches the exact k-th best score."""
    scores = qmat @ cmat.T
    total = 0.0
    for q in range(len(qmat)):
        kth = np.sort(scores[q])[-TOP_K]
        got = hits.get(q, [])
        total += sum(1 for i in got if scores[q, i] >= kth - 1e-6) / TOP_K
    return total / len(qmat)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class _TracedEncoder:
    """The collection's query encoder with a driver-side span around it.
    Executors unpickle the plain encoder, so only driver calls are traced."""

    def __init__(self, tracer):
        self.tracer = tracer

    def __call__(self, texts, dim):
        with self.tracer.span("embedding.encode"):
            return embedding.hash_encode_batch(texts, dim)

    def __reduce__(self):
        return (getattr, (embedding, "hash_encode_batch"))


class Workload:
    """Base: subclasses set `cycle` and `latency_ops` and implement
    make_inputs / setup / run_op / finish.  Op times are sampled under the
    op's name, or under `sample_kind[name]` where ops of one kind have
    several names."""

    cycle: tuple[str, ...] = ()
    sample_kind: dict[str, str] = {}
    latency_ops: frozenset[str] = frozenset()

    def __init__(self, bench, sizes: dict):
        self.bench = bench
        self.spark = bench.spark
        self.tr = bench.tracer
        self.sz = sizes

    def make_inputs(self, path: str) -> None:
        """Seeded inputs that do not depend on the engine's state; made
        once per run, before the set-ups, with any files under `path`."""

    def setup(self, path: str) -> None:
        """Build the engine-side state in `path`; callable repeatedly, each
        call starting the workload afresh."""
        self.items = 0
        self.recalls: list[float] = []
        self.layer_values: dict[str, float] = {}
        self.named: dict[str, object] = {}

    def run_op(self, name: str, i: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Pay one-time costs (code generation, Python workers) of the
        loop's code paths before timing; the default pays none."""

    def finish(self) -> None:
        """Work after the loop that belongs to the workload."""


# ------------------------------------------------------------------ ingest


def _html(text: str) -> str:
    return f'<html><body><h1>page</h1><div class="content">{text}</div></body></html>'


class Ingest(Workload):
    """The write side.  Crawl batches are upserted into a merge-on-read
    collection with an incrementally extended IVF index; one batch in
    three re-crawls known URLs with changed text; a small exact search
    after every third upsert reads the fresh rows; and one curation pass
    per cycle runs the dedup, components and pruned-join layers."""

    cycle = ("new", "curate", "new", "recrawl", "search")
    sample_kind = {"new": "upsert", "recrawl": "upsert"}
    latency_ops = frozenset({"upsert"})

    def make_inputs(self, path: str) -> None:
        sz = self.sz
        self.curate = CuratePass(self, path, sz["curate_docs"], sz["curate_vectors"])
        n = sz["base_docs"] + sz["pool_batches"] * sz["batch_docs"]
        pdf = fresh_documents(self.spark, n, seed=_seed(self.bench.seed, 1)).toPandas()
        self.pool = [
            (f"https://docs.example/{self.bench.seed}/{int(d)}", t)
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]

    def setup(self, path: str) -> None:
        super().setup(path)
        self.path = os.path.join(path, "collection")
        self.rng = random.Random(_seed(self.bench.seed, 2))
        self.coll = VectorCollection(
            self.spark, self.path, dim=DIM, write_mode="mor",
            encode_batch=_TracedEncoder(self.tr),
        )
        self.curate.reset(os.path.join(path, "curated.parquet"))
        self.fresh_recall: list[float] = []
        self.live: dict[str, str] = {}
        self.text_bytes = 0
        self.next_url = 0
        self.last_batch: list[str] = []
        self.batches = 0
        self._upsert(self._take_new(self.sz["base_docs"]), build_index=True)

    def warm_up(self) -> None:
        """A ten-page incremental upsert and a two-text search."""
        self._upsert(self._take_new(10), build_index="incremental")
        self._search(self.last_batch[:2])

    def _take_new(self, n: int) -> list[tuple[str, str]]:
        out = self.pool[self.next_url : self.next_url + n]
        self.next_url += len(out)
        return out if out else self._recrawl_pages(n)

    def _recrawl_pages(self, n: int) -> list[tuple[str, str]]:
        urls = self.rng.sample(sorted(self.live), min(n, len(self.live)))
        return [(u, f"{self.live[u]} rev{self.batches}") for u in urls]

    def _upsert(self, pages: list[tuple[str, str]], build_index) -> None:
        html = {u: _html(t) for u, t in pages}
        urls = self.spark.createDataFrame(
            [(u, f"title {u.rsplit('/', 1)[-1]}") for u, _ in pages], "link string, title string"
        )
        with self.tr.span("sources.crawl.ingest"):
            docs = self.tr.materialize(crawl_ingest(urls, html.__getitem__))
        with self.tr.span("vectorstore.upsert"):
            self.coll.upsert(docs, build_index=build_index)
        for u, t in pages:
            self.live[u] = t
            self.text_bytes += len(t.encode())
        self.last_batch = [t for _, t in pages]
        self.batches += 1

    def _search(self, texts: list[str]) -> list[tuple]:
        with self.tr.span("operators.knn.search"):
            hits = self.coll.search_by_text(texts, limit=TOP_K)
            return sorted(tuple(r) for r in hits.collect())

    def run_op(self, name: str, i: int) -> None:
        if name == "curate":
            self.recalls.append(self.curate.run())
            self.items += self.curate.n_docs + self.curate.n_vectors
            return
        if name == "new":
            pages = self._take_new(self.sz["batch_docs"])
        elif name == "recrawl":
            pages = self._recrawl_pages(self.sz["recrawl_docs"])
        else:
            texts = self.rng.sample(self.last_batch, self.sz["search_texts"])
            rows = self._search(texts)
            self.last_search = (texts, rows)
            best = {}
            for qid, _id, _rank, score in rows:
                best[qid] = max(best.get(qid, -1.0), score)
            found = sum(1 for q in range(len(texts)) if best.get(q, -1.0) >= 0.9999)
            self.fresh_recall.append(found / len(texts))
            check(found == len(texts), f"fresh search missed {len(texts) - found} rows")
            return
        self._upsert(pages, build_index="incremental")
        self.items += len(pages)

    def finish(self) -> None:
        self.layer_values.update(self.curate.layer_values())
        self.named["fresh_recall"] = float(np.mean(self.fresh_recall))
        self.named["curate_digest"] = self.curate.digests[0]
        self.layer_values["vectorstore.delta_chain_len"] = self.coll.delta_chain_length()
        # the cycle ends with a search and nothing was written since
        probe, before = self.last_search
        t0 = time.perf_counter()
        with self.tr.span("vectorstore.compact"):
            self.coll.compact()
        t1 = time.perf_counter()
        after = self._search(probe)
        t2 = time.perf_counter()
        with self.tr.span("vectorstore.build_index"):
            self.coll.build_index()
        t3 = time.perf_counter()
        self.named["index_build_s"] = (t1 - t0) + (t3 - t2)
        self.layer_values["vectorstore.write_amp"] = _dir_bytes(self.path) / self.text_bytes
        check(before == after, "search results differ before and after compact()")
        live_rows = self.coll.documents().count()
        check(
            live_rows == len(self.live),
            f"live rows {live_rows} != distinct URLs {len(self.live)}",
        )


# --------------------------------------------------------------- rag_query


class RagQuery(Workload):
    """A fixed request mix over a copy-on-write collection with an IVF
    index and the same corpus as documents/embeddings parquet."""

    cycle = ("exact", "ivf", "bm25", "ivfpq", "answer")
    latency_ops = frozenset(cycle)

    def make_inputs(self, path: str) -> None:
        sz = self.sz
        self.docs = fresh_documents(
            self.spark, sz["corpus_docs"], seed=_seed(self.bench.seed, 11)
        ).toPandas().sort_values("doc_id", ignore_index=True)
        texts = self.docs["text"].tolist()
        self.cmat = corpus_matrix(texts)
        rng = random.Random(_seed(self.bench.seed, 12))
        self.texts = []
        for _ in range(sz["texts"]):
            words = texts[rng.randrange(len(texts))].split()
            n = rng.randint(5, 10)
            lo = rng.randrange(max(1, len(words) - n))
            self.texts.append(" ".join(words[lo : lo + n] + [str(rng.choice(VOCAB))]))
        self.qmat = _unit_rows(embedding.hash_encode_batch(self.texts, DIM))

    def setup(self, path: str) -> None:
        super().setup(path)
        self.path = path
        # recall per kind; every cycle repeats the same queries, so the
        # number of cycles a run makes does not change it
        self.recall_by_kind: dict[str, float] = {}
        docs_path = os.path.join(path, "documents.parquet")
        self.spark.createDataFrame(self.docs).write.parquet(docs_path)
        self.docs_tbl = self.spark.read.parquet(docs_path)
        self.coll = VectorCollection(
            self.spark, os.path.join(path, "collection"), dim=DIM,
            encode_batch=_TracedEncoder(self.tr),
        )
        self.coll.upsert(
            self.docs_tbl.select(F.col("doc_id").alias("id"), "text"), build_index=True
        )
        emb_path = os.path.join(path, "embeddings.parquet")
        self.coll.documents().select(
            F.col("id").alias("vec_id"), F.col("vector").alias("embedding")
        ).write.parquet(emb_path)
        self.emb_tbl = self.spark.read.parquet(emb_path)

    def warm_up(self) -> None:
        """One request of each kind over a two-text batch, checked like
        the timed ones; its items and recalls are discarded.  The loop's
        cycles are then alike, so the number of cycles a run makes does
        not change what a cycle costs."""
        full = self.texts, self.qmat
        self.texts, self.qmat = self.texts[:2], self.qmat[:2]
        try:
            for name in self.cycle:
                self.run_op(name, 0)
        finally:
            self.texts, self.qmat = full
            self.items, self.recall_by_kind = 0, {}

    def _search_with_docs(self, texts: list[str], use_index: bool) -> dict[int, list]:
        layer = "operators.ivf.search" if use_index else "operators.knn.search"
        with self.tr.span(layer):
            hits = self.tr.materialize(
                self.coll.search_by_text(texts, limit=TOP_K, use_index=use_index)
            )
        with self.tr.span("vectorstore.fetch_docs"):
            rows = self.coll.search_results_with_docs(hits).collect()
        out: dict[int, list] = {}
        for r in rows:
            check(bool(r["text"]), f"hit {r['id']} came back without its document")
            out.setdefault(r["query_id"], []).append((r["id"], r["score"]))
        return out

    def run_op(self, name: str, i: int) -> None:
        texts, qmat = self.texts, self.qmat
        if name == "exact":
            got = self._search_with_docs(texts, use_index=False)
            scores = qmat @ self.cmat.T
            for q in range(len(texts)):
                want = np.round(np.sort(scores[q])[-TOP_K:], 6)
                have = np.sort([s for _, s in got.get(q, [])])
                check(
                    len(have) == TOP_K and np.allclose(have, want, atol=2e-6),
                    f"exact top-{TOP_K} scores for query {q}: {have} != {want}",
                )
        elif name == "ivf":
            got = self._search_with_docs(texts, use_index=True)
            self.recall_by_kind[name] = recall_at_k(
                qmat, self.cmat, {q: [i for i, _ in v] for q, v in got.items()}
            )
        elif name == "bm25":
            with self.tr.span("operators.bm25.topk"):
                rows = bm25.bm25_topk(self.docs_tbl, list(enumerate(texts)), k=TOP_K).collect()
            check(0 < len(rows) <= TOP_K * len(texts), f"bm25 returned {len(rows)} rows")
        elif name == "ivfpq":
            with self.tr.span("embedding.encode"):
                enc = embedding.hash_encode_batch(texts, DIM)
            queries = self.spark.createDataFrame(
                [(q, enc[q].tolist()) for q in range(len(texts))],
                "query_id long, query_vec array<double>",
            )
            with self.tr.span("operators.pq.ivfpq"):
                rows = pq.ivfpq_topk(queries, self.emb_tbl, k=TOP_K).collect()
            hits: dict[int, list[int]] = {}
            for r in rows:
                hits.setdefault(r["query_id"], []).append(r["vec_id"])
            self.recall_by_kind[name] = recall_at_k(qmat, self.cmat, hits)
        else:
            with self.tr.span("plans.rag.search_pipeline"):
                res = self.tr.materialize(
                    search_pipeline(self.spark, self.path, n_queries=len(texts))
                )
            with self.tr.span("plans.generate.rag_generate"):
                rows = rag_generate(res).collect()
            check(
                len(rows) == len(texts)
                and all(r["response"].startswith("summary(") for r in rows),
                f"rag_generate answered {len(rows)} of {len(texts)} prompts",
            )
        self.items += len(texts)

    def finish(self) -> None:
        for key, kind in (("operators.ivf.recall_at_3", "ivf"),
                          ("operators.pq.recall_at_3", "ivfpq")):
            self.layer_values[key] = self.recall_by_kind.get(kind, float("nan"))
        self.recalls = list(self.recall_by_kind.values())


# ------------------------------------------------------------------ curate

QUALITY_MIN = 0.1  # keeps nearly every synthetic doc; the gate still runs
VEC_TAU = 0.9
VEC_K = 5


def brute_force_topk_components(ids: np.ndarray, vecs: np.ndarray, tau: float, k: int) -> dict:
    """Driver-side oracle for the pruned top-k join + topk_edges +
    connected_components: each item's k best neighbours with cosine >= tau
    (ties by smaller id), symmetrized, labelled by the smallest id of their
    component.  Returns {node: component} for nodes with an edge."""
    x = _unit_rows(vecs.astype(np.float64))
    order = np.argsort(ids)
    ids, x = ids[order], x[order]
    scores = x @ x.T
    np.fill_diagonal(scores, -np.inf)
    parent = {}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in range(len(ids)):
        cand = np.flatnonzero(scores[i] >= tau)
        # stable sort on -score keeps ascending id among equal scores
        for j in cand[np.argsort(-scores[i, cand], kind="stable")][:k]:
            a, b = int(ids[i]), int(ids[j])
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


class CuratePass:
    """One curation pass over a seeded batch: quality gate, exact and
    MinHash near-dup detection, connected components; and on clustered
    vectors the IVF-pruned top-k join, its edge list and components.  The
    curated documents are written to parquet.  Passes repeat over the same
    input, so the output digest must repeat."""

    def __init__(self, wl: Workload, path: str, n_docs: int, n_vectors: int):
        """Writes the seeded input under `path`."""
        self.spark, self.tr = wl.spark, wl.tr
        self.n_docs, self.n_vectors = n_docs, n_vectors
        self.docs_path = os.path.join(path, "docs.parquet")
        self.vecs_path = os.path.join(path, "vectors.parquet")
        fresh_documents(
            self.spark, n_docs, seed=_seed(wl.bench.seed, 21)
        ).write.parquet(self.docs_path)
        clustered_embeddings(
            self.spark, n_vectors, k=64, sigma=0.12, seed=_seed(wl.bench.seed, 22)
        ).write.parquet(self.vecs_path)
        vecs = self.spark.read.parquet(self.vecs_path).toPandas()
        self.want_vec_cc = brute_force_topk_components(
            vecs["vec_id"].to_numpy(), np.stack(vecs["embedding"].to_numpy()), VEC_TAU, VEC_K
        )
        self.digests: list[str] = []  # every pass of the run must repeat the first

    def reset(self, out_path: str) -> None:
        """Start afresh, writing the curated documents to `out_path`."""
        self.out_path = out_path
        self.counts = {"pairs": 0, "edges": 0, "admit": [], "yield": []}

    def run(self) -> float:
        """One pass; returns the share of planted duplicates it flagged."""
        tr = self.tr
        docs = self.spark.read.parquet(self.docs_path)
        vecs = self.spark.read.parquet(self.vecs_path)
        with tr.span("functions.text.quality_gate"):
            gated = tr.materialize(docs.where(quality_score("text") >= QUALITY_MIN))
        with tr.span("operators.dedup.exact"):
            groups = tr.materialize(dedup.exact_dedup_groups(gated))
        with tr.span("operators.dedup.minhash_pairs"):
            pairs = tr.materialize(dedup.minhash_near_dup_pairs(gated))
        exact_edges = (
            gated.select("doc_id", F.md5("text").alias("content_hash"))
            .join(groups.where("n_dups > 1"), "content_hash")
            .where(F.col("doc_id") != F.col("canonical_id"))
            .select(F.col("canonical_id").alias("a_id"), F.col("doc_id").alias("b_id"))
        )
        text_edges = exact_edges.unionByName(pairs.select("a_id", "b_id"))
        with tr.span("operators.components.cc"):
            text_cc = components.connected_components(text_edges).toPandas()

        stats: dict = {}
        with tr.span("operators.ivf.pruned_topk"):
            directed = tr.materialize(
                ivf.ivf_pruned_topk_join(vecs, tau=VEC_TAU, k=VEC_K, stats_out=stats)
            )
        with tr.span("operators.knn.topk_edges"):
            vedges = tr.materialize(knn.topk_edges(directed).select("a_id", "b_id"))
        with tr.span("operators.components.cc"):
            vec_cc = components.connected_components(vedges).toPandas()
        got_vec_cc = dict(zip(vec_cc["node"].tolist(), vec_cc["component"].tolist()))
        check(got_vec_cc == self.want_vec_cc,
              "vector components differ from the numpy brute-force top-k graph")

        dropped = text_cc.loc[text_cc["node"] != text_cc["component"], ["node"]]
        curated = gated.join(
            self.spark.createDataFrame(dropped, "node long").withColumnRenamed("node", "doc_id"),
            "doc_id", "left_anti",
        )
        curated.write.mode("overwrite").parquet(self.out_path)

        gated_ids = np.array(gated.select("doc_id").toPandas()["doc_id"])
        cls = gated_ids % DOC_DUP_MOD
        planted = set(gated_ids[cls >= DOC_ORIGINAL_CUT].tolist())
        exact_planted = set(gated_ids[(cls >= DOC_ORIGINAL_CUT) & (cls < DOC_EXACT_CUT)].tolist())
        flagged = set(text_cc["node"].tolist())
        check(exact_planted <= flagged,
              f"{len(exact_planted - flagged)} planted exact duplicates not flagged")

        h = hashlib.sha256()
        for frame in (text_cc, vec_cc):
            for a, c in sorted(zip(frame["node"].tolist(), frame["component"].tolist())):
                h.update(f"{a}:{c};".encode())
        h.update(str(len(gated_ids) - len(dropped)).encode())
        self.digests.append(h.hexdigest())
        check(self.digests[-1] == self.digests[0], "curate output digest changed between passes")

        if tr.active:
            n_pairs, n_vedges = pairs.count(), vedges.count()
            self.counts["pairs"] += n_pairs
            self.counts["edges"] += n_vedges + exact_edges.count() + n_pairs
            self.counts["admit"].append(stats.get("admit_rate", 0.0))
            self.counts["yield"].append(n_vedges / max(1, stats.get("candidate_pairs", 0)))
        return len(planted & flagged) / max(1, len(planted))

    def layer_values(self) -> dict[str, float]:
        if not self.counts["admit"]:
            return {}
        return {
            "operators.dedup.pairs": self.counts["pairs"],
            "operators.components.edges": self.counts["edges"],
            "operators.ivf.pruned_admit_rate": float(np.mean(self.counts["admit"])),
            "operators.ivf.pruned_yield": float(np.mean(self.counts["yield"])),
        }


WORKLOADS = {"ingest": Ingest, "rag_query": RagQuery}
