"""VectorCollection — the reference SDK's surface, Spark-backed.

A user of the reference works through the tcvectordb client:
    create_collection(shard=3, embedding=..., index=[PRIMARY id, VECTOR
    cosine, FILTER title])                         (TencentVDB.py:21-61)
    coll.upsert(documents=[...], build_index=True) (TencentVDB.py:63-79)
    coll.searchByText(embeddingItems=[txt], limit=3, filter=...)
                                                   (main_server.py:40-44)

This class reproduces that contract on parquet + the engine's operators:
server-side embedding → the batch embed stage; HNSW → IVF artifacts;
upsert-by-id → merge write; filtered search → predicate pushdown before
scoring.  Batch-first: `search_by_text` takes a LIST of queries and
answers them in one Spark job (the reference loops one HTTP call per
query — SURVEY §4's first deleted bottleneck).
"""

from __future__ import annotations

import os
from typing import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.embedding import hash_encode_batch, make_embed_udf
from crawling_vectordb_llm_spark.functions.vector import l2_normalize
from crawling_vectordb_llm_spark.operators.ivf import (
    _ivf_search_core,
    assign_centroids,
    kmeans_centroids,
)
from crawling_vectordb_llm_spark.operators.knn import _knn_join_core
from crawling_vectordb_llm_spark.operators.merge import upsert_by_key
from crawling_vectordb_llm_spark.operators.topk import driver_frame


class VectorCollection:
    """Parquet-backed vector collection with embed-on-write, merge upsert,
    and (optionally IVF-accelerated) cosine search."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dim: int = 64,
        shards: int = 3,
        n_centroids: int = 16,
        encode_batch: Callable[[list[str], int], np.ndarray] | None = None,
        write_mode: str = "cow",
    ):
        assert write_mode in ("cow", "mor"), write_mode
        self.spark = spark
        self.path = path
        self.dim = dim
        self.shards = shards
        self.n_centroids = n_centroids
        # "cow": every upsert/delete rewrites the snapshot (simple, read-
        # optimal).  "mor": changes land as O(|change|) delta versions and
        # reads merge base+deltas (write-optimal — the only affordable
        # shape when the collection is 100 TB and the increment is a
        # crawl batch); compact() folds the chain back to read-optimal.
        self.write_mode = write_mode
        self._encode = encode_batch or hash_encode_batch
        self._embed_udf = make_embed_udf(dim=dim, encode_batch=encode_batch)
        self.centroids: np.ndarray | None = None
        # (version, DataFrame) of the last snapshot read: version
        # directories are immutable, so the DataFrame stays valid for as
        # long as the pointer names that version, and re-reading it would
        # only repeat parquet schema inference (one Spark job per call)
        self._snapshot: tuple[int, DataFrame] | None = None

    # ------------------------------------------------------------ lifecycle

    @property
    def _table(self) -> str:
        return os.path.join(self.path, "collection")

    @property
    def _assignment(self) -> str:
        return os.path.join(self.path, "ivf_assignment")

    @property
    def _centroids_path(self) -> str:
        return os.path.join(self.path, "ivf_centroids")

    def exists(self) -> bool:
        from crawling_vectordb_llm_spark import versioning as V

        return V.latest_version(self._table) is not None

    def documents(self, version: int | None = None) -> DataFrame:
        """Current (or pinned — time travel) snapshot of the collection."""
        from crawling_vectordb_llm_spark import mor
        from crawling_vectordb_llm_spark import versioning as V

        v = version if version is not None else V.latest_version(self._table)
        if self._snapshot is not None and self._snapshot[0] == v:
            return self._snapshot[1]
        if self.write_mode == "mor":
            df = mor.mor_read(self.spark, self._table, key="id", version=v)
        else:
            df = V.read_version(self.spark, self._table, v)
        self._snapshot = (v, df)
        return df

    def delta_chain_length(self) -> int:
        """MOR read amplification (0 for cow): deltas a read must merge."""
        from crawling_vectordb_llm_spark import mor

        return mor.delta_chain_length(self._table) if self.write_mode == "mor" else 0

    def compact(self) -> int:
        """Fold MOR deltas into a fresh base (or rewrite the cow snapshot
        at a sane file count) as a NEW version — pinned readers untouched."""
        from crawling_vectordb_llm_spark import mor
        from crawling_vectordb_llm_spark import versioning as V

        if self.write_mode == "mor":
            return mor.mor_compact(self.spark, self._table, key="id")
        return V.compact(self.spark, self._table)

    # ------------------------------------------------------------ writes

    def upsert(self, docs: DataFrame, build_index: bool | str = True) -> None:
        """Embed-on-write + merge-by-id (last writer wins), then optional
        index artifact rebuild — the TencentVDB.py:63-79 contract, bulk.
        build_index: True = full rebuild, "incremental" = assign only the
        ingest delta against the existing centroids (the 100 TB cadence),
        False = defer.

        The merge reads version N and writes version N+1 directly
        (versioning.py): no staging double-write — the old version stays
        immutable under concurrent readers until the pointer flips, which
        is also what lets the merge read its own input safely."""
        from crawling_vectordb_llm_spark import versioning as V

        from crawling_vectordb_llm_spark import mor

        incoming = (
            docs.withColumn("vector", self._embed_udf(F.col("text")))
            .withColumn("vector", l2_normalize("vector").cast("array<float>"))
            .dropDuplicates(["id"])
        )
        if self.write_mode == "mor":
            if self.exists():
                mor.mor_upsert(incoming, self._table, key="id")
            else:
                mor.mor_write_base(
                    incoming.repartition(self.shards, "id"), self._table
                )
        elif self.exists():
            merged = upsert_by_key(self.documents(), incoming, key="id")
            V.versioned_write(merged.repartition(self.shards, "id"), self._table)
        else:
            V.versioned_write(incoming.repartition(self.shards, "id"), self._table)
        if build_index == "incremental":
            self.build_index(incremental=True)
        elif build_index:
            self.build_index()

    def build_index(self, incremental: bool = False) -> None:
        """Rebuild the IVF artifacts, or (incremental=True) extend them.

        Full build: retrain centroids on the current snapshot, assign
        every vector, overwrite the partitioned assignment, persist the
        centroid table (so a fresh session — or another node — can search
        without retraining).

        Incremental (the 100 TB ingest cadence — a full rebuild per crawl
        batch would re-scan the whole collection the reference-style
        `build_index=True`-per-upsert way): keep the trained centroids,
        assign ONLY ids not yet in the assignment, append their cells.
        Updated ids keep their old cell until the next full build — a
        bounded recall drift, never a consistency issue (search joins the
        assignment to the live snapshot and scores current vectors);
        deleted ids are filtered by that same join.  Falls back to a full
        build when no index exists yet."""
        coll = self.documents()
        if incremental and os.path.exists(self._assignment):
            cents = self._ensure_centroids()
            existing = self.spark.read.parquet(self._assignment).select("id")
            delta = coll.join(existing, "id", "left_anti")
            assign_centroids(
                delta, cents, id_col="id", vec_col="vector"
            ).select("id", "centroid_id").write.mode("append").partitionBy(
                "centroid_id"
            ).parquet(self._assignment)
            return
        self.centroids = kmeans_centroids(coll, self.n_centroids, vec_col="vector")
        # the artifact stores ONLY (id, centroid_id): search always joins
        # back to the live snapshot for vectors (snapshot consistency), so
        # persisting vectors here would double the collection's footprint
        # for bytes nothing reads
        assign_centroids(
            coll, self.centroids, id_col="id", vec_col="vector"
        ).select("id", "centroid_id").write.mode("overwrite").partitionBy(
            "centroid_id"
        ).parquet(self._assignment)
        driver_frame(
            self.spark,
            enumerate(self.centroids),
            "centroid_id int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(self._centroids_path)

    def _ensure_centroids(self):
        """Centroid matrix from this session or the persisted table."""
        import numpy as np

        if self.centroids is None:
            if not os.path.exists(self._centroids_path):
                raise ValueError("index not built (no persisted centroids)")
            rows = sorted(
                self.spark.read.parquet(self._centroids_path).collect(),
                key=lambda r: r["centroid_id"],
            )
            self.centroids = np.array([r["centroid"] for r in rows], dtype=np.float64)
        return self.centroids

    def delete(self, ids: list[str], build_index: bool = False) -> int:
        """Delete-by-id (the CRUD op the reference approximates with
        upsert-overwrite): anti-join against the current snapshot, write
        the survivors as the next version.  Returns the new version —
        readers pinned to older versions still see the deleted rows, so
        a delete is also an auditable event, not a destructive rewrite."""
        from crawling_vectordb_llm_spark import mor
        from crawling_vectordb_llm_spark import versioning as V

        ids_df = driver_frame(self.spark, [(i,) for i in ids], "id string")
        if self.write_mode == "mor":
            v = mor.mor_delete(ids_df, self._table, key="id")
        else:
            survivors = self.documents().join(
                F.broadcast(ids_df), "id", "left_anti"
            )
            v = V.versioned_write(
                survivors.repartition(self.shards, "id"), self._table
            )
        if build_index:
            self.build_index()
        return v

    # ------------------------------------------------------------ search

    def search_by_text(
        self,
        texts: list[str],
        limit: int = 3,
        filter: str | None = None,
        use_index: bool = False,
        n_probe: int = 4,
    ) -> DataFrame:
        """Batch searchByText: embed every query text, cosine top-`limit`
        per query, optional SQL predicate applied BEFORE scoring (J3).
        Returns (query_id, id, rank, score) — query_id indexes `texts`.

        The encoded query matrix is already on the driver, so it goes
        straight to the operators' cores instead of through a query
        relation they would only collect back."""
        qids = np.arange(len(texts), dtype=np.int64)
        qmat = np.asarray(self._encode(texts, self.dim), dtype=np.float64)
        corpus = self.documents()
        if filter:
            corpus = corpus.where(filter)
        if use_index and os.path.exists(self._assignment):
            self._ensure_centroids()
            # Always pin the (possibly stale) index assignment to the CURRENT
            # snapshot: after delete()/upsert() with build_index=False the
            # assignment still carries dropped ids and pre-update vectors —
            # scoring it as-is would return deleted rows (violating the J4
            # snapshot-read contract) or rank by stale embeddings.  Joining
            # on id keeps only live rows AND scores with the snapshot's
            # current vector; rows inserted since the last build_index are a
            # documented recall gap (they have no cell yet), never a
            # consistency violation.
            assigned = (
                self.spark.read.parquet(self._assignment)
                .select("id", "centroid_id")
                .join(corpus.select("id", "vector"), "id")
            )
            return _ivf_search_core(
                qids, qmat, assigned, self.centroids, limit, n_probe,
                query_id="query_id", corpus_id="id", corpus_vec="vector",
            )
        return _knn_join_core(
            qids, qmat, "bigint", corpus, limit,
            query_id="query_id", corpus_id="id", corpus_vec="vector",
            score_col="score",
        )

    def search_results_with_docs(self, hits: DataFrame) -> DataFrame:
        """Join hits back to full documents (the reference returns whole
        docs per hit, main_server.py:43-44).  Hits are tiny — broadcast."""
        return self.documents().join(F.broadcast(hits), "id", "inner")
