"""Measure the brute-vs-IVF crossover behind `BRUTE_TOPK_MAX_ROWS`
(the r9 hybrid dispatch, VERDICT r8 #3) with the drift-immune
interleaved protocol of `tools/ab_bench.py`, last present at commit
524cad2.

At each corpus size the two FORCED strategies of
`topk_similarity_self_join` (strategy="brute" vs strategy="ivf") run
interleaved in one process, alternating order per rep, so ambient load
cancels in the per-rep ratio.  Corpus points:

  2k            driver sf0.1 embeddings   (well below the threshold)
  8k/12k/16k    deterministic fixed-size hash slices of fresh-sf1
                (pmod(xxhash64(vec_id), n) < LIT keeps ~LIT rows of n;
                 labels carry the MEASURED count — r9's harness sliced
                 with LIT=BRUTE_TOPK_MAX_ROWS and mislabeled the
                 resulting 16,362 rows "8k_slice", VERDICT r9)
  20k           fresh-sf1 embeddings      (just above the threshold)
  40k           hash slice of fresh-sf3
  60k           fresh-sf3 embeddings

A ratio (ivf/brute) > 1 means brute is faster at that size; < 1 means
the IVF-composed form is.  The measurements force each strategy, so they
are independent of the dispatch threshold; `brute_max_rows` in the
payload records the constant shipped at measurement time.  The
checked-in artifact is AB_HYBRID_r10.json (supersedes AB_HYBRID_r09.json,
whose mid point the slice bug displaced to 16,362 rows).

Usage:
  python tools/hybrid_ab.py [--reps N] [--json OUT]
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.session import get_spark
from crawling_vectordb_llm_spark.operators.knn import (
    BRUTE_TOPK_MAX_ROWS,
    topk_similarity_self_join,
)

TAU, K = 0.35, 5  # the consumers' TOPK_TAU / TOPK_K operating point


def _slice(df, n: int, target: int):
    """Deterministic ~target-row hash slice: pmod(xxhash64(id), n) is
    uniform over [0, n), so `< target` keeps a Binomial(n, target/n)
    subset with mean `target` rows.  The label is built from the
    MEASURED count downstream, never from `target` (VERDICT r9: the r9
    harness compared against BRUTE_TOPK_MAX_ROWS here and shipped a
    16,362-row point labeled '8k_slice')."""
    return df.where(F.pmod(F.xxhash64("vec_id"), F.lit(n)) < F.lit(target))


def _corpora(spark) -> list[tuple[str, "object"]]:
    out = [("2k_sf0.1", spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet"))]
    sf1 = os.environ.get("SPARK_GRAFT_SF1F_DIR", "/tmp/sf1_fresh")
    if os.path.exists(os.path.join(sf1, "embeddings.parquet")):
        big = spark.read.parquet(os.path.join(sf1, "embeddings.parquet"))
        n = big.count()
        # bracket the threshold from below AND at it: ~8k and ~12k fill
        # the 2k-16k gap the r9 artifact left empty, ~16k sits at the
        # shipped BRUTE_TOPK_MAX_ROWS itself
        for target in (8_192, 12_288, BRUTE_TOPK_MAX_ROWS):
            out.append(("slice", _slice(big, n, target)))
        out.append((f"{n // 1000}k_sf1_fresh", big))
    else:
        print(f"WARN: {sf1} missing — run tools/sf1_fresh.py build", file=sys.stderr)
    sf3 = os.environ.get("SPARK_GRAFT_SF3F_DIR", "/tmp/sf3_fresh")
    if os.path.exists(os.path.join(sf3, "embeddings.parquet")):
        big3 = spark.read.parquet(os.path.join(sf3, "embeddings.parquet"))
        n3 = big3.count()
        out.append(("slice", _slice(big3, n3, 40_960)))
        out.append((f"{n3 // 1000}k_sf3_fresh", big3))
    return out


def _run(df, strategy: str) -> float:
    t0 = time.time()
    topk_similarity_self_join(df, k=K, tau=TAU, strategy=strategy, n_cells=16).count()
    return time.time() - t0


def main() -> None:
    args = sys.argv[1:]
    reps, json_out = 5, None
    while args and args[0].startswith("--"):
        if args[0] == "--reps":
            reps, args = int(args[1]), args[2:]
        elif args[0] == "--json":
            json_out, args = args[1], args[2:]
        else:
            raise SystemExit(f"unknown flag {args[0]!r}")
    spark = get_spark("hybrid_ab")
    results = []
    for label, df in _corpora(spark):
        df = df.localCheckpoint()  # pin the input; time the join only
        n = df.count()
        if label == "slice":  # label slices by MEASURED count (VERDICT r9)
            label = f"{round(n / 1000)}k_slice_n{n}"
        _run(df, "brute")  # cold, uncounted
        _run(df, "ivf")
        walls_b, walls_i = [], []
        for rep in range(reps):
            if rep % 2 == 0:
                walls_b.append(_run(df, "brute"))
                walls_i.append(_run(df, "ivf"))
            else:
                walls_i.append(_run(df, "ivf"))
                walls_b.append(_run(df, "brute"))
            spark.catalog.clearCache()
            gc.collect()
        med = statistics.median
        ratios = sorted(wi / max(wb, 1e-9) for wb, wi in zip(walls_b, walls_i))
        row = {
            "corpus": label,
            "n": n,
            "brute_median_s": round(med(walls_b), 3),
            "ivf_median_s": round(med(walls_i), 3),
            "ivf_over_brute_median_ratio": round(med(ratios), 3),
            "brute_walls_s": [round(w, 3) for w in walls_b],
            "ivf_walls_s": [round(w, 3) for w in walls_i],
            "reps": reps,
        }
        results.append(row)
        print(
            f"{label:16s} n={n:6d}  brute {row['brute_median_s']:7.3f}s  "
            f"ivf {row['ivf_median_s']:7.3f}s  ivf/brute {row['ivf_over_brute_median_ratio']:.3f}"
        )
    payload = {
        "protocol": "interleaved A/B, alternating order, 1 cold rep/side, "
        f"{reps} timed reps/side, median of per-rep ratios",
        "tau": TAU,
        "k": K,
        "brute_max_rows": BRUTE_TOPK_MAX_ROWS,
        "pairs": results,
    }
    if json_out:
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1)
    print(json.dumps({"pairs": [
        {k: v for k, v in r.items() if not k.endswith("walls_s")} for r in results
    ]}))


if __name__ == "__main__":
    main()
