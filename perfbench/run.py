"""Retrieval benchmark for vettore_spark.

    python3 perfbench/run.py --workload serve_topk --seed 1 --seconds 18 --trace 0

Runs one workload in one process on ``local[k]`` (k = min(4, cores)),
through the library's public functions, and prints every metric by name
with its unit; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is the traced run: it reports the
per-layer metrics and writes a JSON record of spans and per-operation
layers under ``.perfbench_work/traces``. Every file the run writes stays
under ``.perfbench_work`` in the directory holding ``perfbench``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {  # name -> unit
    "setup_s": "s", "qps": "1/s", "latency_p50_ms": "ms", "rows_per_s": "1/s",
    "recall": "ratio", "cached_mb": "MB",
}
SETUP_PARTS = ("setup.session_s", "setup.generate_s", "setup.ingest_s",
               "setup.warmup_s", "hnsw.build_s", "ivf.build_s", "sq.train_s")
SERVE_TYPES = ("search", "search_where", "quantized_search", "hybrid_search",
               "hnsw_search", "ivf_search", "sq_search")
BATCH_OPS = ("ann.self_knn_topk", "ann.blocked_knn_topk",
             "search.multi_query_topk", "dedup.minhash_lsh_pairs",
             "dedup.ngram_jaccard_pairs")
GATES = ("streaming_topk_per_key", "streaming_exact_dedup",
         "streaming_moment_stats")
# per-layer metrics summed over a round's operations, averaged over rounds
ROUND_SUMS = {
    "collection.build_ms": "ms", "catalyst.plan_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.driver_ms": "ms",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "executor.gc_ms": "ms",
    "executor.offcpu_ms": "ms", "shuffle.read_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.spill_mb": "MB", "cache.hits": "count",
    "cache.misses": "count", "cache.evictions": "count",
    "stateful.add_batch_ms": "ms", "stateful.commit_ms": "ms",
    "stateful.state_rows": "count", "stateful.state_mb": "MB",
}


def per_layer_units() -> dict:
    units = {p: "s" for p in SETUP_PARTS}
    units.update({f"collection.{t}.p50_ms": "ms" for t in SERVE_TYPES})
    units.update(ROUND_SUMS)
    units.update({f"{o}_s": "s" for o in BATCH_OPS})
    units.update({f"stateful.{g}_s": "s" for g in GATES})
    return units


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every size (the self-test runs tiny sizes)")
    return ap.parse_args(argv)


def scaled_sizes(sizes: dict, scale: float) -> dict:
    if scale == 1.0:
        return dict(sizes)
    keep = {"k", "threshold", "warmup_scale", "stream_files", "stream_k",
            "labels", "ivf_cells", "ivf_probe", "blocked_bands", "doc_words"}
    return {k: v if k in keep or not isinstance(v, int) else max(4, int(v * scale))
            for k, v in sizes.items()}


def make_session(work: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    from vettore_spark import with_engine_defaults
    from tracing import event_log_conf

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # Python workers import the library from this checkout and keep their
    # scratch files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM spark-submit starts (launcher and driver) keeps its
    # temporary files in the checkout and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")))
    conf = {
        "spark.sql.shuffle.partitions": str(cores),
        "spark.driver.memory": "2g",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.log.level": "ERROR",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    b = with_engine_defaults(SparkSession.builder.master(f"local[{cores}]"))
    for k, v in conf.items():
        b = b.config(k, v)
    return b.appName("perfbench").getOrCreate()


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(ops, res: dict) -> dict:
    busy = ops.busy_s()
    walls = [o.wall_s for o in ops.ops]
    expected = sum(o.expected for o in ops.ops)
    return {
        "setup_s": res["setup_s"],
        "qps": len(ops.ops) / busy,
        "latency_p50_ms": statistics.median(walls) * 1e3,
        "rows_per_s": sum(o.rows_in for o in ops.ops) / busy,
        "recall": sum(o.found for o in ops.ops) / expected if expected else 0.0,
        "cached_mb": res["cached_mb"],
    }


def per_layer(ops, rows: list, setup_parts: dict, rounds: int) -> dict:
    units = per_layer_units()
    out = dict.fromkeys(units, 0.0)
    out.update({p: setup_parts.get(p, 0.0) for p in SETUP_PARTS})
    by_name = ops.walls_by_name()
    for t in SERVE_TYPES:
        if t in by_name:
            out[f"collection.{t}.p50_ms"] = statistics.median(by_name[t]) * 1e3
    for name in BATCH_OPS + tuple(f"stateful.{g}" for g in GATES):
        if name in by_name:
            out[f"{name}_s"] = statistics.median(by_name[name])
    for key in ROUND_SUMS:
        out[key] = sum(r.get(key, 0) for r in rows) / max(rounds, 1)
    return out


def trace_record(wl, args, ops, res, e2e, work) -> tuple[str, dict]:
    """Write the traced run's record; return its path and the per-layer
    metrics."""
    from tracing import fold_event_log, op_layers, spans

    groups = fold_event_log(os.path.join(work, "eventlog"))
    rows = [dict(op_layers(o, groups), op=o.id, name=o.name, round=o.round,
                 ok=o.ok) for o in ops.ops]
    layers = per_layer(ops, rows, res["setup_parts"], res["rounds"])
    counts = ("scheduler.jobs", "scheduler.stages", "scheduler.tasks",
              "cache.hits", "cache.misses", "cache.evictions")
    # counts of every operation against the first call of the same type
    within: list = []
    first: dict = {}
    for r in rows:
        sig = tuple(r.get(c, 0) for c in counts)
        prev = first.setdefault(r["name"], (r["op"], sig))
        if prev[1] != sig:
            within.append({"op": r["op"], "name": r["name"], "first_op": prev[0],
                           "counts": dict(zip(counts, sig)),
                           "first_counts": dict(zip(counts, prev[1]))})
    # per-round counts against the previous traced run of this workload
    out_dir = os.path.join(WORK_ROOT, "traces")
    os.makedirs(out_dir, exist_ok=True)
    earlier = sorted(f for f in os.listdir(out_dir) if f.startswith(wl + "-"))
    across: list = []
    if earlier:
        with open(os.path.join(out_dir, earlier[-1])) as fh:
            prev_rec = json.load(fh)
        across = [{"metric": c, "this": layers[c],
                   "previous": prev_rec["per_layer"].get(c),
                   "previous_record": earlier[-1]}
                  for c in counts if layers[c] != prev_rec["per_layer"].get(c)]
    untraced = latest_untraced(wl, args.seed)
    record = {
        "workload": wl, "seed": args.seed, "seconds": args.seconds,
        "rounds": res["rounds"], "setup_parts": res["setup_parts"],
        "end_to_end_traced": e2e,
        "tracing_overhead": None if untraced is None else {
            k: e2e[k] - untraced["metrics"][k]["value"] for k in e2e},
        "tracing_overhead_base": None if untraced is None else untraced["file"],
        "per_layer": layers, "ops": rows,
        "spans": [s for o in ops.ops for s in spans(o, groups)],
        "count_differences_within_run": within,
        "count_differences_vs_previous_run": across,
    }
    path = os.path.join(out_dir, f"{wl}-{time.time():.0f}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    return path, layers


def latest_untraced(wl: str, seed: int):
    """The latest untraced result of this workload, preferring this seed."""
    d = os.path.join(WORK_ROOT, "results")
    names = sorted(f for f in os.listdir(d) if f.startswith(f"{wl}-trace0-")) \
        if os.path.isdir(d) else []
    recs = []
    for f in names:
        with open(os.path.join(d, f)) as fh:
            recs.append(dict(json.load(fh), file=f))
    same = [r for r in recs if r.get("seed") == seed]
    return (same or recs or [None])[-1]


def main(argv) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import vettore_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import vettore_spark from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)["workloads"]
    if args.workload not in spec:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(spec)}", file=sys.stderr)
        return 2
    import workloads
    from tracing import Ops

    sizes = scaled_sizes(spec[args.workload]["sizes"], args.scale)
    # a fixed number of rounds per --seconds, so the operation mix and
    # warm state never depend on how fast the host happens to be
    rounds = max(1, round(args.seconds / spec[args.workload]["round_seconds"]))
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = min(4, len(os.sched_getaffinity(0)))
    setup = workloads.Setup()
    spark = setup.time("setup.session_s", lambda: make_session(
        work, cores, bool(args.trace)))
    try:
        ops = Ops(spark, bool(args.trace))
        res = workloads.WORKLOADS[args.workload](
            spark, ops, setup, sizes, args.seed, work, rounds, T_START)
    finally:
        stop_session(spark)
    res["setup_parts"] = setup.parts
    e2e = end_to_end(ops, res)
    attempted = len(ops.ops) + ops.untimed
    failed = sum(not o.ok for o in ops.ops) + ops.untimed_failed

    for part in SETUP_PARTS:
        print(f"{part:24s} {setup.parts.get(part, 0.0):12.3f} s")
    print(f"{'rounds':24s} {res['rounds']:12d}")
    by_name = ops.walls_by_name()
    for name, walls in by_name.items():
        print(f"op {name:32s} n={len(walls):3d} "
              f"median {statistics.median(walls) * 1e3:10.1f} ms")
    if args.trace:
        path, layers = trace_record(args.workload, args, ops, res, e2e, work)
        units = per_layer_units()
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
        print(f"trace record: {path}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"{k:32s} {m['value']:14.4f} {m['unit']}")
    print(f"attempted {attempted}  failed {failed}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    rdir = os.path.join(WORK_ROOT, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{args.workload}-trace{args.trace}-"
                           f"{time.time():.0f}-{os.getpid()}.json"), "w") as fh:
        json.dump(dict(result, seed=args.seed, setup_parts=setup.parts,
                       op_walls_s=by_name), fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
