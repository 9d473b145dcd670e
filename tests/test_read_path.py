"""The request read path (search_by_text, bm25_topk, ivfpq_topk, the
collection snapshot): outputs pinned hash-identical to the earlier shapes
kept here as test-local references, job-count ceilings per request, and
the query-collect tuple contract."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import read_table
from crawling_vectordb_llm_spark.embedding import hash_encode_batch
from crawling_vectordb_llm_spark.operators.bm25 import B, K1, bm25_topk
from crawling_vectordb_llm_spark.operators.ivf import assign_centroids, ivf_search
from crawling_vectordb_llm_spark.operators.knn import (
    knn_join_numpy,
    knn_rerank_shortlist,
)
from crawling_vectordb_llm_spark.operators.pq import _ivfpq_train, ivfpq_topk
from crawling_vectordb_llm_spark.operators.topk import (
    collect_query_rows,
    grouped_topk,
    normalize_rows,
)
from crawling_vectordb_llm_spark.vectorstore import VectorCollection

from .conftest import SF_SMALL


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs `fn` starts, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _collection(spark, tmp_path, n_docs=100, **kw):
    docs = (
        read_table(spark, SF_SMALL, "documents")
        .where(F.col("doc_id") < n_docs)
        .select(
            F.concat(F.lit("https://x/"), F.col("doc_id").cast("string")).alias("id"),
            "text",
        )
    )
    coll = VectorCollection(spark, str(tmp_path / "coll"), dim=64, **kw)
    coll.upsert(docs, build_index=True)
    return coll, docs


def _texts(docs, n=12) -> list[str]:
    return [r["text"][:80] + " zebra" for r in docs.orderBy("id").limit(n).collect()]


# ------------------------------------------------------------- IVF-PQ


def _ivfpq_three_stage(
    queries, corpus, k, n_probe, shortlist, n_centroids=16, n_codes=16,
    seed=42, query_id="query_id", query_vec="query_vec",
    corpus_id="vec_id", corpus_vec="embedding",
):
    """The earlier ivfpq_topk scan, kept as the parity reference:
    assign_centroids -> residual encode -> broadcast probe join -> ADC
    score (three Python stages), then the same shortlist window and
    rerank against the caller's query relation."""
    spark = queries.sparkSession
    cents, books = _ivfpq_train(corpus, n_centroids, None, n_codes, corpus_vec, seed)
    m, _, sub_d = books.shape
    assigned = assign_centroids(corpus, cents, corpus_id, corpus_vec)
    bc = spark.sparkContext.broadcast((cents, books))

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents_, books_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = normalize_rows(np.array(list(pdf[corpus_vec]), dtype=np.float64))
            r = mat - cents_[pdf["centroid_id"].to_numpy()]
            codes = np.empty((len(mat), m), dtype=np.int32)
            for s in range(m):
                sub = r[:, s * sub_d : (s + 1) * sub_d]
                d2 = -2.0 * (sub @ books_[s].T) + (books_[s] ** 2).sum(axis=1)[None, :]
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    corpus_id: pdf[corpus_id],
                    "centroid_id": pdf["centroid_id"],
                    "codes": list(codes),
                }
            )

    cid_t = corpus.schema[corpus_id].dataType.simpleString()
    encoded = assigned.mapInPandas(
        _encode, schema=f"{corpus_id} {cid_t}, centroid_id int, codes array<int>"
    )
    qrows = collect_query_rows(queries, query_id, query_vec)
    qids = np.array([r[0] for r in qrows])
    qmat = normalize_rows(np.array([r[1] for r in qrows], dtype=np.float64))
    q_cent = qmat @ cents.T
    probe_cells = np.argsort(-q_cent, axis=1)[:, :n_probe]
    tables = np.einsum("isd,scd->isc", qmat.reshape(len(qmat), m, sub_d), books)
    probes = spark.createDataFrame(
        [(int(q), [int(c) for c in probe_cells[i]]) for i, q in enumerate(qids)],
        f"{query_id} long, cells array<int>",
    ).select(query_id, F.explode("cells").alias("centroid_id"))
    bq = spark.sparkContext.broadcast((qids, q_cent, tables))

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qc, tabs = bq.value
        qpos = {int(q): i for i, q in enumerate(ids)}
        flat = tabs.reshape(len(ids), m * n_codes)
        offs = np.arange(m) * n_codes
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qi = np.array([qpos[int(q)] for q in pdf[query_id]])
            codes = np.array(list(pdf["codes"]), dtype=np.int64) + offs[None, :]
            adc = flat[qi[:, None], codes].sum(axis=1)
            score = adc + qc[qi, pdf["centroid_id"].to_numpy()]
            yield pd.DataFrame(
                {query_id: pdf[query_id], corpus_id: pdf[corpus_id], "approx_score": score}
            )

    scored = encoded.join(F.broadcast(probes), "centroid_id").mapInPandas(
        _score, schema=f"{query_id} long, {corpus_id} {cid_t}, approx_score double"
    )
    short = grouped_topk(
        scored, [query_id], [F.desc("approx_score"), F.asc(corpus_id)], shortlist
    ).select(query_id, corpus_id)
    return knn_rerank_shortlist(short, queries, corpus, k, corpus_id=corpus_id, corpus_vec=corpus_vec)


def _emb_corpus(spark, ties: bool):
    emb = read_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    if ties:
        # 120 vectors, each stored under four ids: every ADC and exact
        # score ties four ways, and the copies land in different
        # partitions, so the partition-local shortlist's tie order decides
        # which ids reach the global window
        emb = base = emb.where(F.col("vec_id") < 120)
        for j in (1, 2, 3):
            emb = emb.unionByName(base.withColumn("vec_id", F.col("vec_id") + 1000 * j))
    return emb.repartition(4, "vec_id")


def _emb_queries(emb, n=6):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.mark.parametrize("ties", [False, True], ids=["fixture", "tie_heavy"])
@pytest.mark.parametrize("k,n_probe", [(3, 4), (10, 12)])
def test_ivfpq_fused_scan_matches_three_stage_path(spark, ties, k, n_probe):
    """One fused scan kernel == assign -> encode -> probe join -> score,
    row for row.  Small Arrow batches make the per-partition running merge
    span several batches; a 16-row shortlist makes it cut."""
    emb = _emb_corpus(spark, ties)
    q = _emb_queries(emb)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "40")
    try:
        got = _rows(ivfpq_topk(q, emb, k=k, n_probe=n_probe, shortlist=16))
        want = _rows(_ivfpq_three_stage(q, emb, k, n_probe, 16))
    finally:
        spark.conf.set(key, old)
    assert len(got) == 6 * k
    assert got == want


def test_ivfpq_string_query_ids(spark):
    """Query ids of any type: string ids return the same neighbours as
    the integer-id run (the scan indexes queries by position)."""
    emb = _emb_corpus(spark, ties=False)
    q_int = _emb_queries(emb, 5)
    q_str = q_int.select(
        F.concat(F.lit("q"), F.col("query_id").cast("string")).alias("query_id"),
        "query_vec",
    )
    by_int = _rows(ivfpq_topk(q_int, emb, k=5, n_probe=4))
    out = ivfpq_topk(q_str, emb, k=5, n_probe=4)
    assert out.schema["query_id"].dataType.simpleString() == "string"
    by_str = sorted((int(r[0][1:]),) + tuple(r)[1:] for r in out.collect())
    assert by_str == by_int and len(by_int) == 25


# ------------------------------------------------------------- BM25


def _bm25_full_vocab(docs, queries, k, id_col="doc_id", text_col="text"):
    """The earlier bm25_topk: list-built query terms and tf/df over the
    whole corpus vocabulary, kept as the parity reference."""
    spark = docs.sparkSession
    qterms = spark.createDataFrame(
        [(qid, t) for qid, text in queries for t in text.split()],
        "query_id long, term string",
    ).distinct()
    toks = docs.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = docs.select(F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("dl").cast("decimal(22,6)")).cast("double") / F.count(F.lit(1))).alias("a"),
    ).first()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(stats["n"])) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.lit(float(stats["a"])))
    )
    partial = (
        F.broadcast(qterms).join(tf, "term")
        .join(F.broadcast(dfreq.join(qterms.select("term").distinct(), "term")), "term")
        .join(dl, id_col)
        .select("query_id", id_col, (idf * tf_part).cast("decimal(18,9)").alias("s"))
    )
    scored = partial.groupBy("query_id", id_col).agg(
        F.round(F.sum("s").cast("double"), 6).alias("score")
    )
    return grouped_topk(scored, ["query_id"], [F.desc("score"), F.asc(id_col)], k)


def test_bm25_query_vocabulary_matches_full_vocabulary(spark):
    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    texts = [r["text"] for r in docs.orderBy("doc_id").limit(4).collect()]
    queries = [
        (0, " ".join(texts[0].split()[:6])),
        (1, " ".join(texts[1].split()[3:9]) + " zzqx"),
        # repeated terms: the driver dedupes (query, term) pairs
        (2, "the the " + " ".join(texts[2].split()[:3])),
        (3, "zzqx only-unknown-terms"),
        (7, texts[3]),
    ]
    got = _rows(bm25_topk(docs, queries, k=20))
    assert got == _rows(_bm25_full_vocab(docs, queries, 20))
    assert {r[0] for r in got} == {0, 1, 2, 7}


# ------------------------------------------------------------- VectorCollection


def _query_frame(spark, texts):
    qmat = hash_encode_batch(texts, 64)
    return spark.createDataFrame(
        [(i, [float(x) for x in qmat[i]]) for i in range(len(texts))],
        "query_id long, query_vec array<double>",
    )


def test_search_by_text_matches_operators_fed_a_query_frame(spark, tmp_path):
    coll, docs = _collection(spark, tmp_path)
    texts = _texts(docs)
    queries = _query_frame(spark, texts)
    exact = knn_join_numpy(
        queries, coll.documents(), k=3, corpus_id="id", corpus_vec="vector"
    )
    assert _rows(coll.search_by_text(texts, limit=3)) == _rows(exact)
    assigned = (
        spark.read.parquet(coll._assignment)
        .select("id", "centroid_id")
        .join(coll.documents().select("id", "vector"), "id")
    )
    ivf = ivf_search(
        queries, assigned, coll.centroids, 3, 2, corpus_id="id", corpus_vec="vector"
    )
    got = _rows(coll.search_by_text(texts, limit=3, use_index=True, n_probe=2))
    assert got == _rows(ivf) and len(got) == 3 * len(texts)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_documents_snapshot_follows_every_write(spark, tmp_path, mode):
    coll, docs = _collection(spark, tmp_path, n_docs=40, write_mode=mode)
    snap = coll.documents()
    assert coll.documents() is snap  # no write: the same snapshot
    assert snap.count() == 40
    v1 = coll.documents()

    new = docs.where(F.col("id").isin([f"https://x/{i}" for i in range(5)]))
    new = new.withColumn("id", F.concat(F.lit("new/"), "id"))
    coll.upsert(new, build_index=False)
    assert coll.documents().count() == 45
    coll.delete(["https://x/1", "https://x/2", "new/https://x/0"])
    after_delete = coll.documents()
    assert after_delete.count() == 42
    ids = {r["id"] for r in after_delete.select("id").collect()}
    assert "https://x/1" not in ids and "new/https://x/3" in ids
    coll.compact()
    compacted = coll.documents()
    assert compacted is not after_delete
    assert _rows(compacted.select("id", "text")) == _rows(after_delete.select("id", "text"))
    # a pinned read does not disturb the current one
    assert coll.documents(version=1).count() == 40
    assert coll.documents().count() == 42
    assert v1.count() == 40  # old snapshots stay readable


# ------------------------------------------------------------- job counts


def test_request_job_counts(spark, tmp_path):
    """Ceilings on the Spark jobs each request kind starts at toy scale:
    the query side of search_by_text never becomes a Spark relation,
    bm25's query terms and ivfpq's rerank queries are Arrow-built, and
    ivfpq scans the corpus in one pass."""
    coll, docs = _collection(spark, tmp_path)
    texts = _texts(docs)
    emb = read_table(spark, SF_SMALL, "embeddings")
    q = _emb_queries(emb, 5)
    bm25_docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    runs = {
        "exact": lambda: coll.search_by_text(texts, limit=3).collect(),
        "ivf": lambda: coll.search_by_text(texts, limit=3, use_index=True).collect(),
        "bm25": lambda: bm25_topk(bm25_docs, list(enumerate(texts)), k=3).collect(),
        "ivfpq": lambda: ivfpq_topk(q, emb, k=3).collect(),
    }
    ceiling = {"exact": 2, "ivf": 4, "bm25": 13, "ivfpq": 7}
    counts = {name: _jobs(spark, f"read-path-{name}", fn) for name, fn in runs.items()}
    assert all(counts[n] <= ceiling[n] for n in runs), counts


# ------------------------------------------------------------- query collect


def test_collect_query_rows_tuple_contract(spark):
    """(id, vector) tuples, read positionally by every ANN operator; ids
    keep their column's type, vectors their values; the bound raises
    naming the caller."""
    df = spark.createDataFrame(
        [(7, [1.0, 2.0]), (3, [0.5, -1.0]), (5, [0.0, 0.25])],
        "qid long, v array<double>",
    )
    rows = collect_query_rows(df, "qid", "v")
    assert isinstance(rows, list) and len(rows) == 3
    assert all(isinstance(r, tuple) and len(r) == 2 for r in rows)
    assert all(type(i) is int for i, _ in rows)
    assert sorted((i, list(v)) for i, v in rows) == [
        (3, [0.5, -1.0]), (5, [0.0, 0.25]), (7, [1.0, 2.0])
    ]
    named = df.select(F.concat(F.lit("q"), F.col("qid").cast("string")).alias("qid"), "v")
    assert sorted(i for i, _ in collect_query_rows(named, "qid", "v")) == ["q3", "q5", "q7"]
    with pytest.raises(ValueError, match="probe: query side exceeds max_query_rows=2"):
        collect_query_rows(df, "qid", "v", max_rows=2, caller="probe")
