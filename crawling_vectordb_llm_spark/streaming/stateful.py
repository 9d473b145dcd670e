"""Custom stateful streaming operator via applyInPandasWithState.

The engine analog of the reference's per-session chat state (ordered
history + KV cache held across turns, main_server.py:69-72,167-169):
arbitrary per-key state maintained across micro-batches.  Demonstrated as
per-user running totals — state = (n_events, total_value), updated per
batch, emitted in update mode.

Scale notes: state lives in the state store keyed by user_id (shuffled
once); watermark/timeout would bound state for unbounded keys — here
NoTimeout since the fixture key space is finite.
"""

from __future__ import annotations

import uuid
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _update_user_totals(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total_micros = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # accumulate in integer micro-units: exact and order-independent,
        # so the emission bit-matches the oracle's decimal sum
        total_micros += int(round(pdf["value"] * 1e6).astype("int64").sum())
    state.update((n, total_micros))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total_micros / 1e6, 6)],
        }
    )


def run_streaming_user_totals(spark: SparkSession, parquet_path: str) -> DataFrame:
    """File stream → applyInPandasWithState(user totals) → memory sink
    (update mode), drained with availableNow.  With the fixture arriving as
    one batch the emitted rows ARE the final per-user totals — compared
    against the batch groupBy oracle."""
    import os

    from crawling_vectordb_llm_spark.catalog import normalize_event_ts

    schema = spark.read.parquet(parquet_path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if os.path.isfile(parquet_path):
        reader = reader.option("pathGlobFilter", os.path.basename(parquet_path))
        parquet_path = os.path.dirname(parquet_path)
    stream = normalize_event_ts(reader.load(parquet_path))

    out = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total_micros long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"stateful_out_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode appends one row per key per batch; the single-file fixture
    # is one batch, so the sink holds exactly the final row per key.  Guard
    # anyway: keep the highest-n emission per key.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sink = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


class UserTotalsProcessor:
    """transformWithStateInPandas processor (Spark 4 arbitrary-state API):
    per-user running (count, decimal-micro total) — the same state machine
    as `_update_user_totals` re-expressed against the typed-state handle
    API (value state instead of the (tuple,) GroupState blob).  Requires
    the RocksDB state-store provider; see run_tws_user_totals.

    Lazy base class resolution: pyspark.sql.streaming.StatefulProcessor
    exists only on Spark >= 4.0 — this module must stay importable on
    3.x, so the class is built at call time."""

    @staticmethod
    def build():
        import pandas as pd
        from pyspark.sql.streaming import StatefulProcessor

        class _P(StatefulProcessor):
            def init(self, handle):
                from pyspark.sql.types import (
                    LongType, StructField, StructType,
                )

                self._state = handle.getValueState(
                    "totals",
                    StructType([
                        StructField("n", LongType()),
                        StructField("total_micros", LongType()),
                    ]),
                )

            def handleInputRows(self, key, rows, timerValues):
                n, micros = (
                    self._state.get() if self._state.exists() else (0, 0)
                )
                for pdf in rows:
                    n += len(pdf)
                    micros += int(
                        (pdf["value"] * 1_000_000).round().astype("int64").sum()
                    )
                self._state.update((n, micros))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "total_value": [micros / 1_000_000],
                    }
                )

            def close(self):
                pass

        return _P()


def run_tws_user_totals(
    spark: SparkSession,
    parquet_path: str,
    max_files: int = 1,
    return_query: bool = False,
):
    """Streaming per-user totals through transformWithStateInPandas.
    Returns the raw memory-sink DataFrame (one emission per key per
    micro-batch touching it); callers reduce to the max-n row per key.
    With return_query=True returns (DataFrame, finished StreamingQuery)
    so callers can read progress metrics (recentProgress: per-batch
    durations, state-store rows) — the streaming bench's data source.
    The RocksDB state store is required by the API and set on THIS
    session and restored afterwards (other streaming queries keep the
    default HDFS-backed provider)."""
    import uuid

    from crawling_vectordb_llm_spark.shipping import ensure_protobuf

    if not ensure_protobuf(spark):
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf and neither an "
            "installed copy nor the vendored runtime (vendor/) is available"
        )

    # RocksDB provider (required by the API) + CHANGELOG checkpointing
    # (r7, VERDICT r6 #3): without it every micro-batch commit uploads a
    # full RocksDB snapshot per state partition — the per-batch profile
    # measured cumulative commitTimeMs of 17-45 s across 32 partitions
    # for a 1,500-key store, vs ~0.7 s with changelog mode (deltas only;
    # snapshots move to background maintenance).  At scale this is the
    # difference between commit cost ∝ state size × partitions and
    # ∝ rows-changed-this-batch — the production setting for any
    # large-state stream.  Full profile table in SCALE.md (round 7).
    tws_confs = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }
    prior: dict = {}
    for _k, _v in tws_confs.items():
        prior[_k] = spark.conf.get(_k, None)
        spark.conf.set(_k, _v)
    try:
        import os

        schema = spark.read.parquet(parquet_path).schema
        reader = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", str(max_files)
        )
        if os.path.isfile(parquet_path):
            # file streams need a DIRECTORY; pin a single-file fixture via
            # glob filter (same handling as run_streaming_user_totals)
            reader = reader.option(
                "pathGlobFilter", os.path.basename(parquet_path)
            )
            parquet_path = os.path.dirname(parquet_path)
        stream = reader.parquet(parquet_path)
        out = (
            stream.select("user_id", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=UserTotalsProcessor.build(),
                outputStructType="user_id long, n_events long, total_value double",
                outputMode="Update",
                timeMode="None",
            )
        )
        name = f"tws_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if return_query:
            return spark.table(name), q
        return spark.table(name)
    finally:
        for _k, _pv in prior.items():
            if _pv is None:
                spark.conf.unset(_k)
            else:
                spark.conf.set(_k, _pv)
