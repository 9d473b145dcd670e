"""Seeded end-to-end benchmark of the engine: ingest and rag_query workloads.

    python3 perfbench/run.py --workload rag_query --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It sets up the workload several times
(median = `setup_s`), runs the closed loop for `--seconds`, checks the
outputs, and prints one JSON result as the last line of stdout.  With
`--trace 1` it instead runs the loop once untraced and once traced, and
prints the per-layer metrics folded from spans and the Spark event log.
A `report:` line before the result carries the workload-specific figures,
the calibration sentinel and the environment.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
CALIBRATION_REPS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "op_s_p50": "s",
    "recall": "fraction",
}

# spans named after the module they call; each gets `<span>_s` and the
# engine counters.  embedding.encode (no Spark work of its own) and
# vectorstore.search (exact plus IVF search) get a time only.
LAYER_SPANS = (
    "sources.crawl.ingest",
    "vectorstore.upsert",
    "vectorstore.compact",
    "vectorstore.build_index",
    "vectorstore.fetch_docs",
    "operators.knn.search",
    "operators.ivf.search",
    "operators.pq.ivfpq",
    "operators.bm25.topk",
    "plans.rag.search_pipeline",
    "plans.generate.rag_generate",
    "functions.text.quality_gate",
    "operators.dedup.exact",
    "operators.dedup.minhash_pairs",
    "operators.ivf.pruned_topk",
    "operators.knn.topk_edges",
    "operators.components.cc",
)
ENGINE_COUNTERS = {
    "jobs": "count",
    "driver_s": "s",
    "executor_run_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}
LAYER_VALUES = {
    "vectorstore.delta_chain_len": "count",
    "vectorstore.write_amp": "ratio",
    "operators.ivf.recall_at_3": "fraction",
    "operators.pq.recall_at_3": "fraction",
    "operators.dedup.pairs": "count",
    "operators.ivf.pruned_admit_rate": "fraction",
    "operators.ivf.pruned_yield": "fraction",
    "operators.components.edges": "count",
}
TRACE_VALUES = {
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead": "fraction",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}_s": "s" for s in LAYER_SPANS}
    units["vectorstore.search_s"] = "s"
    units["embedding.encode_s"] = "s"
    for s in LAYER_SPANS:
        for c, u in ENGINE_COUNTERS.items():
            units[f"{s}.{c}"] = u
    units.update(LAYER_VALUES)
    units.update(TRACE_VALUES)
    return units


# ----------------------------------------------------------------- helpers


def tail(samples: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(samples)
    for pct in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - pct / 100) >= 10:
            s = sorted(samples)
            return {"pct": pct, "value": s[min(n - 1, math.ceil(n * pct / 100) - 1)], "n": n}
    return None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def box_heap_mb() -> int:
    """A quarter of the machine's memory, capped at 3 GiB."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1024, min(3072, total_kb // 4096))


class Bench:
    """One run: the session, the tracer, counters of ops and their times."""

    def __init__(self, spark, tracer, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}

    def op(self, name: str, fn) -> None:
        """Run one closed-loop op; an exception or failed check counts it
        as failed and the loop goes on."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:  # noqa: BLE001 - the loop must keep running
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        self.samples.setdefault(name, []).append(time.perf_counter() - t0)


def calibrate(spark) -> float:
    """A fixed small Spark job; its time shows drift on a shared box."""
    times = []
    for _ in range(CALIBRATION_REPS):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, 1, 4).selectExpr("sum(id % 7) AS s").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run_cycles(wl, bench: Bench, seconds: float | None, cycles: int | None) -> tuple[float, int]:
    """Whole cycles, ending at the cycle boundary nearest to `seconds`
    (at least one cycle), or exactly `cycles`."""
    t0 = time.perf_counter()
    done = i = 0
    while True:
        for name in wl.cycle:
            bench.op(wl.sample_kind.get(name, name), lambda name=name, i=i: wl.run_op(name, i))
            i += 1
        done += 1
        elapsed = time.perf_counter() - t0
        if cycles is not None:
            if done >= cycles:
                return elapsed, done
        elif elapsed + elapsed / done / 2 >= seconds:
            return elapsed, done


# ------------------------------------------------------------------- setup


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file the JVM, Spark and Python write inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{box_heap_mb()}m"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


# -------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work, bool(args.trace))
    try:
        return _run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str) -> int:
    import pyspark
    from crawling_vectordb_llm_spark.session import get_spark
    from perfbench import tracing
    from perfbench.workloads import SIZES, WORKLOADS

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = tracing.Tracer(sc=spark.sparkContext)
        bench = Bench(spark, tracer, args.seed)
        sizes = SIZES["smoke" if args.smoke else "full"][args.workload]
        env = {
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
        calib_before = calibrate(spark)
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "sizes": sizes, "env": env}

        wl = WORKLOADS[args.workload](bench, sizes)
        t0 = time.perf_counter()
        wl.make_inputs(os.path.join(work, "inputs"))
        report["session_s"], report["inputs_s"] = session_s, time.perf_counter() - t0
        if args.trace:
            metrics = _traced(args, work, bench, tracer, wl, report)
        else:
            metrics = _timed(args, work, bench, wl, report, spark)
        report["calibration_s"] = {"before": calib_before, "after": calibrate(spark)}
    finally:
        stop_spark(spark)

    if args.trace:
        spans_file = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl")
        tracing.write_spans(spans_file, tracer.spans)
        layers = tracing.fold_layers(tracer.spans, tracing.read_event_log(os.path.join(work, "events")))
        metrics = _layer_metrics(layers, metrics)
        report["layers"] = layers  # per span name, with self time
        report["spans_file"] = os.path.relpath(spans_file, ROOT)

    report["ops"] = {"attempted": bench.attempted, "failed": bench.failed,
                     "ops_failed_ratio": bench.failed / max(1, bench.attempted),
                     "errors": bench.errors[:20]}
    print("report: " + json.dumps(report, sort_keys=True))
    correct = bench.failed == 0
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0 if correct else 1


def _timed(args, work, bench, wl, report, spark) -> dict:
    setup_times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        bench.op("setup", lambda: wl.setup(os.path.join(work, f"setup{rep}")))
        setup_times.append(time.perf_counter() - t0)
    bench.op("warm_up", wl.warm_up)
    loop_s, cycles = run_cycles(wl, bench, args.seconds, None)
    bench.op("finish", wl.finish)

    lat = [t for name in wl.latency_ops for t in bench.samples.get(name, [])]
    kind_p50 = {k: statistics.median(bench.samples[k]) for k in sorted(wl.latency_ops)}
    jvm = spark.sparkContext._jvm
    rss_py = vm_hwm_mb(os.getpid())
    rss_jvm = vm_hwm_mb(int(jvm.java.lang.ProcessHandle.current().pid()))
    rss = rss_py + rss_jvm
    gc_s = sum(
        b.getCollectionTime() for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    ) / 1000.0
    e2e = {
        "setup_s": statistics.median(setup_times),
        "items_per_s": wl.items / loop_s,
        "op_s_p50": statistics.geometric_mean(kind_p50.values()),
        "recall": statistics.mean(wl.recalls) if wl.recalls else float("nan"),
    }
    report.update({
        "loop_s": loop_s, "cycles": cycles, "items": wl.items,
        "peak_rss_mb_python_jvm": [rss_py, rss_jvm], "jvm_gc_s": gc_s,
        "setup_s_all": setup_times,
        "op_samples": {k: len(v) for k, v in bench.samples.items()},
        "op_s_p50_by_kind": {k: statistics.median(v) for k, v in bench.samples.items()},
        "op_s_tail": tail(lat),
        "named": _named(args.workload, e2e, wl, bench, lat, rss),
    })
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}


def _named(workload, e2e, wl, bench, lat, rss) -> dict:
    """The end-to-end figures under their workload-specific names."""
    common = {"setup_s": e2e["setup_s"], "peak_rss_mb": rss,
              "ops_failed_ratio": bench.failed / max(1, bench.attempted)}
    if workload == "ingest":
        search = bench.samples.get("search", [])
        passes = bench.samples.get("curate", [])
        return {**common, "ingest_items_per_s": e2e["items_per_s"],
                "upsert_s_p50": e2e["op_s_p50"], "upsert_s_tail": tail(lat),
                "fresh_search_s_p50": statistics.median(search) if search else None,
                "curate_docs_per_s": (wl.curate.n_docs + wl.curate.n_vectors) * len(passes)
                / sum(passes) if passes else None,
                "curate_pass_s_p50": statistics.median(passes) if passes else None,
                "dup_recall": e2e["recall"], **wl.named}
    return {**common, "queries_per_s": e2e["items_per_s"],
            "query_s_p50": e2e["op_s_p50"], "query_s_tail": tail(lat),
            "recall_at_3": e2e["recall"],
            "recall_at_3_ivf": wl.layer_values.get("operators.ivf.recall_at_3"),
            "recall_at_3_ivfpq": wl.layer_values.get("operators.pq.recall_at_3")}


def _traced(args, work, bench, tracer, wl, report) -> dict:
    """After the workload's warm-up and one untimed cycle, an untraced and
    a traced pass of the same number of cycles, each on a fresh set-up;
    set-up is not traced."""

    def one_pass(tag: str, cycles: int | None) -> tuple[float, int]:
        bench.op("setup", lambda: wl.setup(os.path.join(work, tag)))
        t0 = time.perf_counter()
        with tracer.span("loop"):
            _, done = run_cycles(wl, bench, args.seconds, cycles)
            bench.op("finish", wl.finish)
        return time.perf_counter() - t0, done

    bench.op("setup", lambda: wl.setup(os.path.join(work, "warm_up")))
    bench.op("warm_up", wl.warm_up)
    run_cycles(wl, bench, None, 1)  # first calls of every op kind
    untraced_s, cycles = one_pass("untraced", None)
    tracer.active = True
    traced_s, _ = one_pass("traced", cycles)
    tracer.active = False
    report.update({"cycles": cycles, "untraced_wall_s": untraced_s, "traced_wall_s": traced_s})
    return {
        **wl.layer_values,
        "trace.untraced_wall_s": untraced_s,
        "trace.traced_wall_s": traced_s,
        "trace.overhead": traced_s / untraced_s - 1.0,
    }


def _layer_metrics(layers: dict, values: dict) -> dict:
    units = per_layer_units()
    out = {name: 0.0 for name in units}
    for span, row in layers.items():
        if span in LAYER_SPANS:
            out[f"{span}_s"] = row["wall_s"]
            for c in ENGINE_COUNTERS:
                out[f"{span}.{c}"] = row[c]
    out["embedding.encode_s"] = layers.get("embedding.encode", {}).get("wall_s", 0.0)
    out["vectorstore.search_s"] = out["operators.knn.search_s"] + out["operators.ivf.search_s"]
    out.update(values)
    return {k: {"value": v, "unit": units[k]} for k, v in out.items()}


if __name__ == "__main__":
    sys.exit(main())
