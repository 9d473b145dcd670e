"""The benchmark's own tests: tiny-size (--smoke) runs of every workload,
the traced run, the correctness checks firing on a corrupted engine, and
the refusal to run without the engine.

    python3 -m pytest perfbench -q      # from the repository root; ~5 min
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402


def _bench(*args: str, prelude: str = "", cwd: str = ROOT) -> tuple[int, list[str]]:
    """Run the benchmark in a subprocess; `prelude` is Python executed
    first, in the same process, to corrupt the engine for a check test."""
    code = (
        f"import sys; sys.path.insert(0, {cwd!r})\n{prelude}\n"
        "from perfbench import run\nsys.exit(run.main(sys.argv[1:]))"
    )
    p = subprocess.run(
        [sys.executable, "-c", code, *args], cwd=cwd, capture_output=True,
        text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def test_benchmark_json_matches_the_runner():
    assert _declared("end_to_end") == run.END_TO_END_UNITS
    assert _declared("per_layer") == run.per_layer_units()


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([1.0] * 19) is None
    t = run.tail([float(i) for i in range(1, 41)])
    assert (t["pct"], t["value"], t["n"]) == (75.0, 30.0, 40)


@pytest.mark.parametrize("workload", ["ingest", "rag_query"])
def test_smoke_prints_every_end_to_end_metric(workload):
    rc, lines = _bench("--workload", workload, "--seed", "1", "--seconds", "1",
                       "--trace", "0", "--smoke")
    res = _result(lines)
    assert rc == 0 and res["correct"] and res["failed"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _declared("end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert lines[-2].startswith("report: ")


def test_smoke_traced_run_prints_every_per_layer_metric():
    rc, lines = _bench("--workload", "rag_query", "--seed", "1", "--seconds", "1",
                       "--trace", "1", "--smoke")
    res = _result(lines)
    assert rc == 0 and res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _declared("per_layer")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["operators.pq.ivfpq_s"] > 0 and m["operators.pq.ivfpq.jobs"] > 0
    assert m["operators.dedup.minhash_pairs_s"] == 0  # not called by rag_query


FAULTS = {
    # exact search scores shifted: the numpy brute-force comparison fires
    "search_scores": ("rag_query",
        "from pyspark.sql import functions as F\n"
        "from crawling_vectordb_llm_spark.vectorstore import VectorCollection as V\n"
        "orig = V.search_by_text\n"
        "V.search_by_text = lambda self, *a, **k: orig(self, *a, **k)"
        ".withColumn('score', F.col('score') - 0.01)"
    ),
    # upserts after the first land nowhere: fresh reads and the live-row
    # count fire
    "upserts": ("ingest",
        "from crawling_vectordb_llm_spark import mor\n"
        "mor.mor_upsert = lambda rows, path, key='id': None"
    ),
    # components dropped: planted exact duplicates go unflagged and the
    # vector components differ from the brute-force graph
    "components": ("ingest",
        "from crawling_vectordb_llm_spark.operators import components as C\n"
        "orig = C.connected_components\n"
        "C.connected_components = lambda *a, **k: orig(*a, **k).limit(0)"
    ),
}


@pytest.mark.parametrize("fault", sorted(FAULTS))
def test_checks_fire_on_a_corrupted_engine(fault):
    workload, prelude = FAULTS[fault]
    rc, lines = _bench("--workload", workload, "--seed", "1", "--seconds", "1",
                       "--trace", "0", "--smoke", prelude=prelude)
    res = _result(lines)
    assert rc == 1 and not res["correct"] and res["failed"] > 0
    report = json.loads(lines[-2][len("report: "):])
    assert report["ops"]["ops_failed_ratio"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _bench("--workload", "ingest", "--seed", "1", "--seconds", "1",
                       "--trace", "0", cwd=str(tmp_path))
    assert rc != 0 and not any(line.startswith("{") for line in lines)
