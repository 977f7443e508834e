"""Benchmark entry point: one seeded workload, measured for a fixed window.

    python3 perfbench/run.py --workload transcripts_batch --seed 42 --seconds 6 --trace 0

Run from the repository root. It starts one Spark session at
``local[nproc]`` with ``nproc`` shuffle partitions, sets the workload up
once, measures the workload's operation in a loop for ``--seconds`` and
checks every output after its timer stops.

Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` they are the per-layer ones from a traced window. The line
before it (``detail``) records the host, the workload's own named
figures and every check error. Spans of a traced run are written to
``.perfbench_out/``. All scratch files live under ``.perfbench_work/``
and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))


def median(xs, default=0.0):
    return float(statistics.median(xs)) if xs else default


def tail(xs):
    """Highest percentile with at least ten samples beyond it, and that
    percentile. None when that percentile would not be above the median."""
    n = len(xs)
    if n <= 20:  # at or below the median otherwise
        return None, None
    s = sorted(xs)
    return float(s[n - 11]), round(100.0 * (n - 10) / n, 1)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)  # the pinned seed
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of this driver Python process, where the
    driver-mirror cutovers hold collected rows, and of its JVM (driver and,
    at local[n], the executors)."""
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, jvm_kb / 1024.0


def start_session(nproc: int, work: str):
    from agraph_spark.session import get_spark

    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark = get_spark(
        app_name="agraph_spark_perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            # the status tracker must keep every job of a run for span counts
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "50000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def per_layer(wl, tracer) -> dict[str, float]:
    """Per-layer metrics of a traced window: medians over traced operations.
    A layer the workload does not run reads 0."""
    ops, plain = tracer.named("op"), tracer.named("op", False)
    wall = lambda spans: median([s["end"] - s["start"] for s in spans])
    within = lambda op, names: [s for n in names for s in tracer.named(n)
                                if op["start"] <= s["start"] and s["end"] <= op["end"]]
    jobs = lambda *names: median([sum(s["jobs"] for s in within(op, names)) for op in ops])
    stages = lambda *names: median([sum(s["stages"] for s in within(op, names)) for op in ops])
    rel = ("relations.pattern", "relations.cooccur", "relations.validate", "relations.dedup")
    m = {f"{name}{suffix}": wall(tracer.named(name)) for name, suffix in BUSY_SPANS}
    m["fused.jobs"] = jobs("fused")
    m["relations.jobs"] = jobs(*rel)
    m["relations.stages"] = stages(*rel)
    for name in LAYER_COUNTS:
        m[name] = median(wl.layers.get(name, []))
    queries = [s for name in wl.KINDS.values() for s in tracer.named(name)] \
        if hasattr(wl, "KINDS") else []
    m["serving.jobs_per_query"] = (sum(s["jobs"] for s in queries) / len(queries)
                                   if queries else 0.0)
    for name in ("session.start_s", "warmup.busy_s", "input.gen_s", "serving.graph_build_s"):
        m[name] = median(wl.setup_parts.get(name, []))
    # an operation's layers are its direct child spans; what the untraced
    # operation spends outside them is unattributed
    layer_s = median([sum(s["end"] - s["start"] for s in tracer.spans
                          if s.get("parent") == op["id"] and "end" in s) for op in ops])
    m["trace.layers_s"] = layer_s
    m["trace.unattributed_s"] = wall(plain) - layer_s
    m["trace.overhead_s"] = wall(ops) - wall(plain)
    return m


# (span name, metric suffix): the median traced wall time of each layer call
BUSY_SPANS = (
    ("reassemble", ".busy_s"), ("fused", ".busy_s"),
    ("relations.pattern", "_busy_s"), ("relations.cooccur", "_busy_s"),
    ("relations.validate", "_busy_s"), ("relations.dedup", "_busy_s"),
    ("materialize.nodes", "_busy_s"), ("materialize.edges", "_busy_s"),
    ("linking.lsh", "_busy_s"), ("linking.verify", "_busy_s"), ("linking.canonical", "_busy_s"),
    ("integrity", ".busy_s"), ("io.write", "_busy_s"),
    ("dedup_docs.shingle", "_busy_s"), ("dedup_docs.ngram", "_busy_s"),
    ("dedup_docs.minhash_sig", "_busy_s"), ("dedup_docs.minhash", "_busy_s"),
    ("components.khop", "_busy_s"), ("graph_queries.shortest_path", "_busy_s"),
    ("retrieval.chat_context", "_busy_s"), ("retrieval.hybrid", "_busy_s"),
)

# per-layer values the workloads record themselves (median over traced ops)
LAYER_COUNTS = (
    "reassemble.docs_out", "fused.docs_in", "fused.ents_out", "fused.cands_out",
    "relations.cooccur_hits", "relations.relations_out", "relations.triples_out",
    "relations.dedup_ratio", "linking.candidate_pairs", "linking.confirmed_pairs",
    "linking.confirm_ratio", "io.bytes_written", "dedup_docs.shingles",
    "dedup_docs.ngram_pairs", "dedup_docs.minhash_pairs", "components.adjacency_rows",
)


def named_figures(name, wl, tracer, lat) -> dict[str, float]:
    """The workload's own figures, under the names NOTES.md defines."""
    out = {}
    if name == "transcripts_batch":
        out["build_turns_per_s"] = wl.n_turns / median(wl.named["_build"])
        out["graph_turns_per_s"] = wl.n_turns / median(wl.named["_graph"])
    elif name == "docs_dedup":
        out["near_dup_docs_per_s"] = wl.n_docs / median(lat)
    elif name == "graph_serving":
        queries = [s["end"] - s["start"] for span in wl.KINDS.values()
                   for s in tracer.named(span, False)]
        out["query_p50_s"] = median(queries)
        out["query_tail_s"], out["query_tail_pct"] = tail(queries)
        out["queries"] = len(queries)
        for kind, span in wl.KINDS.items():
            out[f"query_{kind}_p50_s"] = median(
                [s["end"] - s["start"] for s in tracer.named(span, False)])
    out["samples"] = len(lat)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "agraph_spark")):
        print(f"perfbench: no agraph_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    nproc = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    load_before = os.getloadavg()
    spark = None
    try:
        import pyspark

        from agraph_spark import caching
        from perfbench.tracing import Tracer

        t0 = time.perf_counter()
        spark = start_session(nproc, work)
        session_s = time.perf_counter() - t0
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark.sparkContext, run_id, enabled=False)
        with open(os.path.join(HERE, "pinned.json")) as fh:
            pinned = json.load(fh).get(args.workload)
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer, pinned)
        wl.setup_parts["session.start_s"] = [session_s]
        wl.part("input.gen_s", wl.inputs)
        wl.warm()
        caching.release_caches(spark)
        setup_s = time.perf_counter() - T_PROCESS  # process start to the first timed op
        lat, items, errors = wl.measure(args.seconds, traced=bool(args.trace))
        attempted, failed, busy = len(lat), len(errors), sum(lat)
        rss, jvm_rss = peak_rss_mb(spark)
        if args.trace:
            layers = {**per_layer(wl, tracer), "driver.peak_rss_mb": rss,
                      "jvm.peak_rss_mb": jvm_rss}
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{run_id}.jsonl"))
        else:
            # wall-time throughput and latency go to the detail line: on a
            # shared host they spread past any allowed bound between runs
            # (NOTES.md). The JVM's peak RSS moves with GC heap growth (a
            # quarter apart between runs), so only the driver's is here.
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cpu_ms_per_item": {"value": 1000 * median(wl.cpu_per_item), "unit": "ms"},
                "driver_peak_rss_mb": {"value": rss, "unit": "MB"},
            }
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "item": wl.item, "master": f"local[{nproc}]", "shuffle_partitions": nproc,
            "nproc": nproc, "pyspark": pyspark.__version__,
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "setup_parts_s": wl.setup_parts,
            "failed_ratio": failed / attempted,
            "work_rate": items / busy, "latency_p50_s": median(lat), "latencies_s": lat,
            "cpu_ms_per_item": [1000 * c for c in wl.cpu_per_item],
            "driver_peak_rss_mb": rss, "jvm_peak_rss_mb": jvm_rss,
            **named_figures(args.workload, wl, tracer, lat),
            "outputs": wl.named.get("outputs"),
            "errors": errors[:10],
        }
        print("detail " + json.dumps(detail, default=str))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            proc = getattr(spark.sparkContext._gateway, "proc", None)
            spark.stop()
            spark.sparkContext._gateway.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=30)
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes_written") or name.endswith("bytes_rewritten"):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("amplification"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
