"""Benchmark of record for the record-linkage engine.

    python3 perfbench/run.py --workload pages_dedup --seed 1 --seconds 12 --trace 0

Run it from the repository root; it imports the package from the working
directory and keeps its scratch files under `.perfbench_work/` there (the
trace of a traced run is left in `.perfbench_out/`). One run:

1. set-up (timed as setup_s): start Spark at local[nproc], generate the
   workload's inputs from the seed and write them to parquet (three times;
   the median counts), then warm up on a small slice of the same workload;
2. closed loop: one operation after another until --seconds have passed
   and the workload's minimum number of operations has run (doubled with
   --trace 1); every operation's outputs go through the correctness gate;
3. print host metadata as one JSON line, then the result as the last line:
   end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

With --trace 1 every other operation runs with the layer hooks of
tracing.py installed; the untraced ones give the overhead baseline.
See README.md in this directory for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from hostinfo import PeakRss, cpu_count, cpu_times, steal_pct, versions
from tracing import COUNTS, LAYERS, Hooks, Tracer, layer_counts, self_seconds

PACKAGE = "bayesianrecordlinkage_jl_spark"
SETUP_REPEATS = 3
JVM_HEAP = "1g"

# name -> unit of every metric, in the order printed
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "records_per_s": "1/s",
    "pairwise_f1": "ratio",
    "peak_rss_mb": "MB",
}
# per-layer statistics the workloads note (medians over the run)
PER_LAYER_STATS = {
    "blocking.pair_precision": "ratio",
    "blocking.pair_recall": "ratio",
    "comparators.pairs": "count",
    "comparison_summary.distinct_vectors": "count",
    "comparison_summary.dedup_ratio": "ratio",
    "em.iterations": "count",
    "connected_components.max_component_pairs": "count",
    "connected_components.capped_nodes": "count",
    "assignment.blocks": "count",
    "assignment.solver_blocks": "count",
    "assignment.fastpath_ratio": "ratio",
    "incremental.matched_ratio": "ratio",
    "streaming.bytes_written": "B",
    "streaming.write_amplification": "ratio",
}


PER_LAYER = {
    "blocking.lsh_s": "s",
    "blocking.key_s": "s",
    "blocking.candidate_pairs": "count",
    "comparators.s": "s",
    "comparators.pairs_per_s": "1/s",
    "comparison_summary.s": "s",
    "em.s": "s",
    "connected_components.s": "s",
    "connected_components.calls": "count",
    "assignment.s": "s",
    "incremental.link_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_read_s": "s",
    **PER_LAYER_STATS,
    **{f"{scope}.{c}": "count" for scope in ["spark", *LAYERS] for c in COUNTS},
    "trace.untraced_op_s": "s",
    "trace.traced_op_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["pages_dedup", "records_bipartite", "crawl_increment"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_spark(work: str):
    """Spark at local[nproc] with every scratch file under `work`."""
    from bayesianrecordlinkage_jl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = tmp
    spark = get_spark("perfbench", cpus=cpu_count(), extra_conf={
        "spark.driver.memory": JVM_HEAP,
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile); (None, None) with fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    k = n - 11  # 0-based rank with exactly ten larger samples
    return sorted(values)[k], 100.0 * (k + 1) / n


def measure(spark, workload: str, seed: int, seconds: float, trace: bool,
            work: str, session_s: float, rss, trace_dir: str | None = None,
            scale: float = 1.0, tamper=None) -> tuple[dict, dict, dict]:
    """One benchmark run on a live session -> (end_to_end, per_layer, meta).
    The spans of a traced run are written to `trace_dir`; `scale` shrinks
    the inputs; `tamper(i, out)` may damage an operation's outputs before
    the gate."""
    from workloads import WORKLOADS  # imports the package

    stats: dict[str, list] = {}
    wl = WORKLOADS[workload](spark, work, seed, scale, stats)
    gen_s = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(gen_s) + warm_s

    tracer = Tracer(spark, f"{workload}-s{seed}") if trace else None
    hooks = Hooks(tracer) if trace else None
    ops = []  # (seconds, records, traced, ok)
    f1s, failures = [], []
    cpu0 = cpu_times()
    start = time.perf_counter()
    i = 0
    while True:
        traced = trace and i % 2 == 1
        t = time.perf_counter()
        try:
            if traced:
                tracer.op = i
                wl.install_hooks(hooks)
                try:
                    with tracer.span("op") as root:
                        out = wl.run_op(i)
                finally:
                    hooks.restore()
                dt = root.seconds
            else:
                out = wl.run_op(i)
                dt = time.perf_counter() - t
            if tamper is not None:
                tamper(i, out)
            f1, bad = wl.check_op(i, out)
            if f1 is not None:
                f1s.append(f1)
                if f1 < wl.f1_floor:
                    bad.append(f"pairwise F1 {f1:.4f} is below the floor {wl.f1_floor}")
        except Exception:  # an operation that raises counts as failed
            dt, bad = time.perf_counter() - t, [traceback.format_exc(limit=3)]
        if bad:
            failures.append({"op": i, "failures": bad})
        ops.append((dt, wl.records(i), traced, not bad))
        i += 1
        # a fixed minimum keeps the operation count from flipping with
        # small timing changes when an operation lasts about --seconds
        if (time.perf_counter() - start >= seconds
                and i >= (2 if trace else 1) * wl.min_ops):
            break
    steal = steal_pct(cpu0, cpu_times())

    plain = [o for o in ops if not o[2]]
    times = [o[0] for o in plain]
    run_s = statistics.median(times)
    n_failed = sum(not o[3] for o in ops)
    end_to_end = {
        "setup_s": setup_s,
        "run_s": run_s,
        "records_per_s": sum(o[1] for o in plain) / sum(times),
        "pairwise_f1": statistics.median(f1s) if f1s else 0.0,
        "peak_rss_mb": rss.peak_mb,
    }
    tail_s, tail_pct = tail(times)
    meta = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "scale": scale, **wl.meta,
        "operations": len(ops), "failed_ops_ratio": n_failed / len(ops),
        "failures": failures, "op_seconds": times, "op_f1": f1s,
        "session_s": session_s, "generate_s": gen_s, "warm_up_s": warm_s,
        "steal_pct": steal,
    }
    if "candidate_pairs" in wl.meta:
        meta["candidate_pairs_per_s"] = wl.meta["candidate_pairs"] / run_s
    if workload == "crawl_increment":
        meta.update(increment_p50_s=run_s, increment_tail_s=tail_s,
                    increment_tail_pct=tail_pct, increment_samples=len(times))

    per_layer = {}
    if trace:
        per_layer = layer_metrics(tracer, [j for j, o in enumerate(ops) if o[2]], stats)
        traced_s = statistics.median(o[0] for o in ops if o[2])
        per_layer.update({"trace.untraced_op_s": run_s, "trace.traced_op_s": traced_s,
                          "trace.overhead_ratio": traced_s / run_s - 1.0})
        meta["trace_spans"] = len(tracer.spans)
        if trace_dir is not None:
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(trace_dir, f"trace-{workload}-s{seed}.jsonl"))
    return end_to_end, per_layer, {**meta, "correct": not failures, "attempted": len(ops),
                                   "failed": n_failed}


def layer_metrics(tracer: Tracer, traced_ops: list[int], stats: dict) -> dict:
    """Per-layer metrics: medians over the traced operations of span self
    times and Spark counts, plus the workload's layer statistics. A layer
    the workload does not run reads 0."""
    rows = []
    for op in traced_ops:
        spans = tracer.op_spans(op)
        selfs = self_seconds(spans)

        def layer(prefix: str) -> float:
            return sum(v for k, v in selfs.items() if k.split(".", 1)[0] == prefix)

        row = {
            "blocking.lsh_s": selfs.get("blocking.lsh", 0.0),
            "blocking.key_s": selfs.get("blocking.key", 0.0),
            "comparators.s": layer("comparators"),
            "comparison_summary.s": layer("comparison_summary"),
            "em.s": layer("em"),
            "connected_components.s": layer("connected_components"),
            "connected_components.calls": sum(
                s.name == "connected_components.round" for s in spans),
            "assignment.s": layer("assignment"),
            "incremental.link_s": selfs.get("incremental.link", 0.0),
            "streaming.commit_s": selfs.get("streaming.commit", 0.0),
            "streaming.state_read_s": selfs.get("streaming.state_read", 0.0),
            **layer_counts(spans),
        }
        rows.append(row)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    for name in PER_LAYER_STATS:
        vals = stats.get(name)
        out[name] = statistics.median(vals) if vals else 0
    out["blocking.candidate_pairs"] = out["comparators.pairs"]
    out["comparators.pairs_per_s"] = (
        out["comparators.pairs"] / out["comparators.s"] if out["comparators.s"] else 0.0)
    return out


def result_line(metrics: dict, units: dict, meta: dict) -> dict:
    return {
        "correct": meta["correct"],
        "attempted": meta["attempted"],
        "failed": meta["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package in {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        with PeakRss() as rss:
            t = time.perf_counter()
            spark = start_spark(work)
            session_s = time.perf_counter() - t
            e2e, layers, meta = measure(spark, args.workload, args.seed, args.seconds,
                                        bool(args.trace), work, session_s, rss,
                                        os.path.join(root, ".perfbench_out"))
            meta.update(nproc=cpu_count(), versions=versions(spark))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"meta": meta}, default=str))
    if args.trace:
        line = result_line(layers, PER_LAYER, meta)
    else:
        line = result_line(e2e, END_TO_END, meta)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
