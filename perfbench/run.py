"""Benchmark of providenciasbigdata_spark as its users meet it.

Run from the repository root:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/README.md): ``interactive`` (four clients on
the reference's two pages), ``refresh`` (a writer ingesting batches
beside readers) and ``offline_build`` (a cold pass of the offline
pipeline). Inputs are generated from ``--seed``; every
answer is checked against an oracle computed without Spark.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(spans are also written to ``.perfbench/traces/``). The line before it
is a JSON report with the details each workload measures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3  # set-ups per run; setup_s is their median; warm-up follows the last


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["interactive", "refresh", "offline_build"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                   help="SPARK_GRAFT_CPUS: local[N] and shuffle partitions")
    p.add_argument("--driver-memory", default="3g", help="SPARK_GRAFT_DRIVER_MEM")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "providenciasbigdata_spark", "engine.py")):
        print("perfbench: run from the repository root; providenciasbigdata_spark/ is missing",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(args.cpus),
        "SPARK_GRAFT_DRIVER_MEM": args.driver_memory,
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path[:0] = [root, HERE]
    try:
        report, result = run(args, root, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0


def stop_jvm() -> None:
    """Stop the session and the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_spark(work: str):
    from providenciasbigdata_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under the system /tmp: the run writes only
        # inside its checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })


def run(args, root: str, work: str):
    import measure
    from workloads import WORKLOADS, Log

    wl = WORKLOADS[args.workload](args.seed, work)
    log = Log()
    setup_tr = measure.Tracer(args.trace == 1)
    setups, sessions = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_spark(work)
        sessions.append(time.perf_counter() - t0)
        wl.setup(spark, setup_tr)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warmup(log, setup_tr, measure.JobCounter(spark, False))
    warmup_s = time.perf_counter() - t0

    tr = measure.Tracer(args.trace == 1)
    jobs = measure.JobCounter(spark, args.trace == 1)
    jvm = measure.Jvm(spark)
    probe_before = measure.host_probe(spark)
    gc0 = jvm.gc_ms()
    jvm.reset_peak()
    t0 = time.perf_counter()
    ops, batches = wl.measure(args.seconds, log, tr, jobs)
    window = time.perf_counter() - t0
    gc_ms = jvm.gc_ms() - gc0
    heap_mb = jvm.heap_peak_mb()
    pids = [os.getpid(), jvm.pid]
    peak_rss = measure.rss_mb(pids)
    memory = jvm.retained_mb() + measure.rss_mb([os.getpid()], "VmRSS")
    probe_after = measure.host_probe(spark)
    spark.stop()

    # closed loops count the ops done by the deadline, over the time
    # until the last of them; offline passes run whole, so they count
    # every op over the whole window
    if args.workload == "offline_build":
        throughput = len(ops) / window
    else:
        done = [o.end - t0 for o in ops if o.end <= t0 + args.seconds]
        throughput = len(done) / max(done)
    failed = log.failed
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cpus": args.cpus, "driver_memory": args.driver_memory, "sizes": wl.sizes,
        "window_s": window,
        "op_latency_ms": measure.latency_summary([o.ms for o in ops]),
        "ops_ms": [[o.kind, round(o.ms, 1)] for o in ops],
        "by_kind_ms_p50": by_kind(ops),
        "setup_s_each": setups, "session_s_each": sessions, "warmup_s": warmup_s,
        "host_probe_s": [probe_before, probe_after],
        "peak_rss_mb": peak_rss,
        "failed_frac": failed / len(log.ops),
        "failures": [f"{o.kind}: {o.err}" for o in log.ops if o.err][:10],
        **wl.extra_report(batches),
    }
    if args.trace:
        metrics, layers = per_layer(args.workload, tr, setup_tr, jobs, ops, sessions,
                                    (probe_before + probe_after) / 2, gc_ms, heap_mb)
        metrics["trace.latency_gm_ms"] = (geomean(o.ms for o in ops), "ms")
        report["layers"] = layers
        trace_dir = os.path.join(root, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tr.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (measure.median(setups), "s"),
            "latency_gm_ms": (geomean(o.ms for o in ops), "ms"),
            "throughput_ops_s": (throughput, "1/s"),
            "memory_mb": (memory, "MB"),
        }
    bad = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if bad:
        raise RuntimeError(f"no measurement for {bad}")
    result = {
        "correct": failed == 0,
        "attempted": len(log.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return report, result


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def by_kind(ops) -> dict:
    import measure

    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o.kind, []).append(o.ms)
    return {k: measure.median(v) for k, v in sorted(kinds.items())}


# Per-layer calls the design names, and the workloads that make them;
# the traced report marks the others absent.
LAYER_CALLS = {
    "engine.facet_options": {"interactive"},
    "engine.query_rulings.plan": {"interactive", "refresh"},
    "engine.query_mongo.plan": {"interactive"},
    "engine.query_mongo.exec": {"interactive"},
    "engine.count_documents": {"interactive"},
    "engine.neighborhood_graph.plan": {"interactive"},
    "engine.run_cypher.plan": {"interactive"},
    "engine.run_cypher.exec": {"interactive"},
    "engine.deduplicate.plan": {"offline_build"},
    "engine.edges.plan": {"offline_build"},
    "compat.documents.to_result_frame": {"interactive", "refresh"},
    "compat.graph.neighborhood.exec": {"interactive"},
    "compat.graph.build_similarity_edges": {"offline_build"},
    "operators.postings.bm25_search.plan": {"interactive"},
    "operators.postings.bm25_search.exec": {"interactive"},
    "operators.postings.search_or.exec": {"refresh"},
    "operators.postings.postings_append": {"refresh"},
    "operators.postings.build_bm25_index": {"interactive", "offline_build"},
    "operators.dedup.dedup_exact_incremental": {"refresh"},
    "operators.dedup.dedup_exact": {"refresh", "offline_build"},
    "operators.dedup.minhash_near_dups": {"offline_build"},
    "io.write_partitioned": {"refresh", "offline_build"},
    "functions.text.quality_score": {"offline_build"},
    "operators.graph_algos.pagerank": {"offline_build"},
    "operators.graph_algos.connected_components": {"offline_build"},
}


def per_layer(workload, tr, setup_tr, jobs, ops, sessions, probe_s, gc_ms, heap_mb):
    """The traced run's metrics (each workload reports every one of
    them) and the per-function table behind them."""
    import measure

    spans = tr.by_name()

    def layer_ms(prefix, suffix=""):
        return [
            (s[2] - s[1]) * 1e3
            for name, ss in spans.items()
            if name.startswith(prefix + ".") and name.endswith(suffix)
            for s in ss
        ]

    per_op = jobs.per_op
    metrics = {
        "session.get_spark.s": (measure.median(sessions), "s"),
        "host.probe_s": (probe_s, "s"),
        "engine.plan_ms_p50": (measure.median(layer_ms("engine", ".plan")), "ms"),
        "compat.ms_p50": (measure.median(layer_ms("compat")), "ms"),
        "operators.postings.ms_p50": (measure.median(layer_ms("operators.postings")), "ms"),
        "op.self_ms_p50": (measure.median(tr.self_ms_roots()), "ms"),
        "spark.jobs_per_op": (measure.median([c[1] for c in per_op]), "count"),
        "spark.stages_per_op": (measure.median([c[2] for c in per_op]), "count"),
        "spark.tasks_per_op": (measure.median([c[3] for c in per_op]), "count"),
        "jvm.gc_ms": (gc_ms, "ms"),
        "jvm.heap_peak_mb": (heap_mb, "MB"),
        "trace.overhead_ms_per_op": (tr.cost_s * 1e3 / len(ops), "ms"),
    }
    table = {}
    for name, ss in sorted(spans.items()):
        table[name] = {
            **measure.latency_summary([(s[2] - s[1]) * 1e3 for s in ss]),
            "failed": sum(not s[5] for s in ss),
        }
    for name, ss in sorted(setup_tr.by_name().items()):
        table[f"setup:{name}"] = measure.latency_summary([(s[2] - s[1]) * 1e3 for s in ss])
    kinds: dict[str, list[tuple]] = {}
    for c in per_op:
        kinds.setdefault(c[0], []).append(c[1:])
    for kind, cs in sorted(kinds.items()):
        table[f"spark.per_op.{kind}"] = {
            stat: measure.median([c[i] for c in cs])
            for i, stat in enumerate(("jobs", "stages", "tasks"))
        }
    seen = set(spans) | set(setup_tr.by_name())
    for name, where in LAYER_CALLS.items():
        if name not in seen:
            table[name] = (
                f"absent: {workload} does not call it (called by {', '.join(sorted(where))})"
                if workload not in where else "absent: no call was traced"
            )
    return metrics, table


if __name__ == "__main__":
    sys.exit(main())
