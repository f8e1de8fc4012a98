"""Repository benchmark: one command, seeded inputs, oracle-checked.

    python3 perfbench/run.py --workload serve_filtered --seed 1 --seconds 10 --trace 0

Run from the repository root. Spark runs ``local[nproc]`` through the
package's ``get_spark``; one client thread drives a closed loop. The
timed phase is one fixed round of the workload's call mix, which takes
longer than ``--seconds`` at the sizes chosen (see ``workloads.py``).
With ``--trace 0`` the last stdout line carries the end-to-end metrics
of BENCHMARK.json; with ``--trace 1`` wrappers installed from this
directory record a span per public call of each layer and Spark's
event log is folded per span, and the last line carries the per-layer
metrics. The line before it (``detail {...}``) holds the workload's
own figures with units, sample counts, nproc and load average.
Everything the run writes stays under ``.perfbench_work/`` in the
current directory; the span file of a traced run is kept there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import descendants, median, valid_metric_name  # noqa: E402

PKG = "vector_databases___hydrate_chroma_db_collection_spark"

# layer (module under the package) -> wrapped public functions
TRACE_TARGETS = {
    "sources.wide": ["read_wide_embeddings"],
    "operators.hydrate": ["hydrate"],
    "operators.pq": [
        "ivf_pq_build", "ivf_pq_write", "ivf_pq_read", "ivf_pq_search",
        "ivf_pq_knn_join", "ivf_pq_append", "ivf_pq_upsert",
    ],
    "operators.ann": ["ivf_delete"],
    "operators.idguard": ["bloom_might_contain", "rebuild_filter"],
    "plans.collection": ["read_collection", "collection_etag", "load_manifest"],
    "plans.chroma_api": [
        "collection_query_ivf_pq", "collection_query_batch_ivf_pq",
        "collection_add", "collection_upsert", "collection_delete_indexed",
    ],
}
HEAVY = [
    "sources.wide.read_wide_embeddings", "operators.hydrate.hydrate",
    "operators.pq.ivf_pq_build", "operators.pq.ivf_pq_write",
    "operators.pq.ivf_pq_knn_join", "plans.chroma_api.collection_query_ivf_pq",
    "plans.chroma_api.collection_query_batch_ivf_pq",
]
LAYER_FIELDS = (
    "calls", "self_ms", "cpu_s", "spark_jobs", "spark_tasks",
    "executor_cpu_s", "shuffle_bytes", "spill_bytes",
)
EXTRAS = (
    "operators.hydrate.rows_written_ratio", "operators.pq.index_bytes",
    "operators.pq.index_files", "operators.ann.tombstone_dirs",
    "plans.collection.bytes_on_disk", "plans.collection.data_files",
    "plans.collection.versions", "plans.chroma_api.probe_rounds",
    "plans.chroma_api.final_probe_ratio", "plans.chroma_api.plain_query_jobs",
    "plans.chroma_api.plain_query_tasks",
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str, trace: bool) -> None:
    """Point every scratch path of Spark, the JVM and Python at
    ``work`` before pyspark starts the JVM."""
    root = os.getcwd()
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{opts}" ' + " ".join(args) + " pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants():
        time.sleep(0.1)
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(ctx, session_s: float) -> dict:
    """The BENCHMARK.json end-to-end metrics: set-up wall time, the
    process-tree CPU of the timed round, mean recall@10 over every
    query checked, and bytes on disk per live row. On a shared host the
    wall time of a Spark call swings with the neighbours' load several
    times more than its CPU does; the detail line keeps both kinds."""
    recall = [r for rs in ctx.recall.values() for r in rs]
    return {
        "setup_s": metric(session_s + ctx.setup_s, "s"),
        "cycle_cpu_s": metric(sum(c.cpu_s for c in ctx.calls), "s"),
        "recall_at_10": metric(statistics.fmean(recall) if recall else 0.0, "ratio"),
        "stored_bytes_per_row": metric(ctx.quality.get("stored_bytes_per_row", 0.0), "B/row"),
    }


def detail(ctx, workload: str, session_s: float) -> dict:
    """Every figure of the workload, by name with its unit; figures that
    do not apply are null."""
    _, wall, cpu = ctx.timed
    reads = [c.ms for c in ctx.calls if c.group == "read"]
    writes = [c.ms for c in ctx.calls if c.group == "write"]
    batches = [c for c in ctx.calls if c.group == "batch"]
    batch_ms = sum(c.ms for c in batches)
    serve = workload == "serve_filtered"
    q = ctx.quality
    rows = {
        "session_start_s": (session_s, "s"),
        "wall_s": (wall, "s"),
        "cpu_s": (cpu, "s"),
        "rows_per_s": (q.get("rows_per_s"), "rows/s"),
        "query_p50_ms": (median(reads) if serve else None, "ms"),
        "batch_qps": (sum(c.queries for c in batches) / (batch_ms / 1e3) if batch_ms else None,
                      "queries/s"),
        "write_p50_ms": (median(writes), "ms"),
        "fresh_read_p50_ms": (None if serve else median(reads), "ms"),
        "cycle_s": (sum(c.ms for c in ctx.calls) / 1e3, "s"),
        "failed_ratio": (ctx.tally.failed_ratio, "ratio"),
    }
    rows.update({k: (v["value"], v["unit"]) for k, v in end_to_end(ctx, session_s).items()})
    return {
        "workload": workload,
        "seed": ctx.seed,
        "nproc": nproc(),
        "metrics": {k: metric(v, u) for k, (v, u) in rows.items()},
        "setup_steps_s": ctx.setup_steps,
        "recall_by_kind": ctx.recall,
        "calls": [c._asdict() for c in ctx.calls],
        "errors": ctx.tally.errors,
    }


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    if last.endswith("bytes") or last == "bytes_on_disk":
        return "B"
    if last.endswith("ratio") or last == "coverage":
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in order."""
    from spans import SPARK_COUNTERS

    names = [f"{layer}.{k}" for layer in TRACE_TARGETS for k in LAYER_FIELDS]
    names += [f"{fn}.{k}" for fn in HEAVY for k in ("self_ms", "spark_jobs")]
    names += [f"spark.{k}" for k in SPARK_COUNTERS]
    names += ["bench.self_ms", *EXTRAS, "trace.timed_wall_s", "trace.coverage"]
    return names


def per_layer(ctx, tracer, groups: dict, hydrate_rows: list) -> tuple[dict, dict]:
    """Per-layer metrics over the whole run (set-up and timed phase),
    plus a per-function table for the detail line."""
    from spans import SPARK_COUNTERS, self_cpu, self_times

    selft, scpu = self_times(tracer.spans), self_cpu(tracer.spans)
    zero = dict.fromkeys(SPARK_COUNTERS, 0.0)
    fn: dict[str, dict] = {}
    for s in tracer.spans:
        f = fn.setdefault(s.name, {"layer": s.layer, "calls": 0, "self_ms": 0.0, "cpu_s": 0.0, **zero})
        f["calls"] += 1
        f["self_ms"] += selft[s.id] * 1e3
        f["cpu_s"] += scpu[s.id]
        for k, v in groups.get(s.group, zero).items():
            f[k] += v
    vals: dict[str, float] = dict(ctx.extras)
    for name, f in fn.items():
        layer = f["layer"]
        for k in ("calls", "self_ms", "cpu_s", *SPARK_COUNTERS):
            key = f"{layer}.spark_{k}" if k in ("jobs", "tasks") else f"{layer}.{k}"
            vals[key] = vals.get(key, 0.0) + f[k]
        vals[f"{name}.self_ms"] = f["self_ms"]
        vals[f"{name}.spark_jobs"] = f["jobs"]
    for g in groups.values():
        for k, v in g.items():
            vals[f"spark.{k}"] = vals.get(f"spark.{k}", 0.0) + v

    # Spark work per plain single query: the span subtree's jobs and tasks
    kids: dict = {}
    for s in tracer.spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree(s, key):
        return groups.get(s.group, zero)[key] + sum(subtree(c, key) for c in kids.get(s.id, []))

    t0, wall, _ = ctx.timed
    # the unfiltered single query of the timed phase: plain, or the
    # read of an added row
    plain = [s for s in tracer.spans if s.start >= t0 and s.name in (
        "plans.chroma_api.collect.plain", "plans.chroma_api.collect.added")]
    vals["plans.chroma_api.plain_query_jobs"] = median([subtree(s, "jobs") for s in plain]) or 0.0
    vals["plans.chroma_api.plain_query_tasks"] = median([subtree(s, "tasks") for s in plain]) or 0.0
    if ctx.probe:
        vals["plans.chroma_api.probe_rounds"] = statistics.fmean(r for r, _ in ctx.probe)
        vals["plans.chroma_api.final_probe_ratio"] = statistics.fmean(p for _, p in ctx.probe)
    rin = sum(r for r, _ in hydrate_rows)
    vals["operators.hydrate.rows_written_ratio"] = sum(w for _, w in hydrate_rows) / rin if rin else 0.0
    top = [s for s in tracer.spans if s.parent is None and s.start >= t0]
    vals["trace.timed_wall_s"] = wall
    vals["trace.coverage"] = sum(s.end - s.start for s in top) / wall if wall else 0.0
    out = {n: metric(float(vals.get(n, 0.0)), unit_of(n)) for n in per_layer_names()}
    return out, fn


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Ctx, SetupFailed

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, bool(args.trace))
    load0 = os.getloadavg()
    sys.path.insert(0, root)
    t = time.perf_counter()
    from vector_databases___hydrate_chroma_db_collection_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.range(1).count()
    session_s = time.perf_counter() - t

    tracer = None
    hydrate_rows: list = []
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext, f"pb{os.getpid()}")
        tracer.install(PKG, TRACE_TARGETS)
        tracer.observers["operators.hydrate.hydrate"] = (
            lambda rep: hydrate_rows.append((rep.rows_in, rep.rows_written))
        )
    ctx = Ctx(spark, work, args.seed, tracer)
    ok = True
    try:
        WORKLOADS[args.workload](ctx)
    except SetupFailed as exc:
        print(f"perfbench: set-up step failed: {exc}; {ctx.tally.errors}", file=sys.stderr)
        ok = False
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)

    try:
        if not ok:
            return 1
        info = detail(ctx, args.workload, session_s)
        info["loadavg_start"], info["loadavg_end"] = load0, os.getloadavg()
        if args.trace:
            from spans import fold_event_log

            groups = fold_event_log(os.path.join(work, "eventlog"))
            metrics, per_fn = per_layer(ctx, tracer, groups, hydrate_rows)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            span_file = os.path.join(base, "traces", f"{args.workload}-{args.seed}.jsonl")
            tracer.dump(span_file, groups)
            info["per_function"] = per_fn
            info["span_file"] = os.path.relpath(span_file, root)
        else:
            metrics = end_to_end(ctx, session_s)
        bad = [k for k, v in metrics.items() if not valid_metric_name(k) or v["value"] is None]
        if bad:
            print(f"perfbench: metrics without a value or a valid name: {bad}", file=sys.stderr)
            return 1
        print("detail " + json.dumps(info))
        print(json.dumps({
            "correct": ctx.tally.failed == 0,
            "attempted": ctx.tally.attempted,
            "failed": ctx.tally.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
