#!/usr/bin/env python3
"""The sparksearch benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload find_first_seen --seed 1 \
        --seconds 20 --trace 0

Run it from the root of a checkout. It writes a seeded corpus and its
scratch files under ``.perfbench_work/`` there, drives the engine's
public functions from one closed-loop client on ``local[nproc]``,
checks the answers, and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (spans around the engine's layer modules, one Spark job
group per request phase, the Spark event log). See README.md in this
directory for every metric, workload and the layer map."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import corpus
import harness
import measure
import streams
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# corpus scale factor: the engine's test data shape at 1/10 of the
# bench.py default, so that a run fits the per-run time budget
SCALE = 0.01
# the corpus is the same for every workload seed; the seed drives the
# requests, tranches and job inputs
CORPUS_SEED = 42
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_cpu_p50_ms": "ms",
    "ops_per_cpu_s": "1/s",
}
PER_LAYER = {
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "tail_pct": "%",
    "ops_per_s": "1/s",
    "session.start_s": "s",
    "index_build_s": "s",
    "api.construct_ms": "ms",
    "api.memo_hit_ratio": "ratio",
    "construct.operators.bm25_ms": "ms",
    "construct.operators.knn_ms": "ms",
    "construct.operators.ann_ms": "ms",
    "construct.operators.graph_ms": "ms",
    "construct.operators.fusion_ms": "ms",
    "construct.plans.planner_ms": "ms",
    "exec.collect_ms": "ms",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.gc_s": "s",
    "operators.hydrate.ms": "ms",
    "repeat.op_p50_ms": "ms",
    "repeat.api.construct_ms": "ms",
    "repeat.api.memo_hit_ratio": "ratio",
    "repeat.exec.collect_ms": "ms",
    "repeat.operators.hydrate.ms": "ms",
    "cache.hits": "count",
    "cache.misses": "count",
    "cache.evictions": "count",
    "cache.entries": "count",
    "cache.unpinned_bytes": "B",
    "serving.drain_ms": "ms",
    "serving.log_files": "count",
    "serving.vacuum_ms": "ms",
    "serving.purge_ms": "ms",
    "streaming.ingest.advance_ms": "ms",
    "asof_read_growth": "ratio",
    "serving.stale_reads": "count",
    "serving.refused_reads": "count",
    "serving.purge_read_errors": "count",
    **{f"batch.{j}_s": "s" for j in streams.BATCH_JOBS},
    "peak_rss_mb": "MB",
    "jvm_rss_mb": "MB",
    "py_rss_mb": "MB",
    "tmp_bytes": "B",
    "failed_share": "ratio",
    "steal_pct": "%",
}
# wall-time readings: in every report, and per-layer metrics
WALL = ("op_p50_ms", "op_tail_ms", "tail_pct", "ops_per_s")
# the request phase whose Spark jobs the exec.* metrics describe
MAIN_PHASE = {
    "find_repeat": "collect",
    "find_first_seen": "collect",
    "ingest_asof": "asof_read",
    "batch_jobs": "job",
}


def pin_env(run_dir: str, traced: bool) -> dict:
    """Pin the session's environment before pyspark is imported and
    return what was pinned. Every file Spark, the JVM or the engine
    writes lands under ``run_dir``."""
    cpus = len(os.sched_getaffinity(0))
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the launcher's too: no perf-data file in the
        # system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
    }
    if traced:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{ev}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    pinned["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f'--conf "{k}={v}"' for k, v in confs.items()) + " pyspark-shell"
    )
    os.environ.update(pinned)
    tempfile.tempdir = None  # re-read TMPDIR
    return {"cpus": cpus, "driver_memory": DRIVER_MEMORY, "local_dirs": local, "client_threads": 1}


def exec_metrics(events: dict, phase: str, requests: list[str]) -> dict:
    """Per-operation means of the event-log counters over the measured
    operations' ``phase`` job groups (warm-up and untimed passes
    excluded)."""
    keys = ("jobs", "tasks", "task_cpu_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "gc_s")
    tot = dict.fromkeys(keys, 0.0)
    wanted = {f"{r}:{phase}" for r in requests}
    for group, vals in events.items():
        if group in wanted:
            for k in keys:
                tot[k] += vals[k]
    n = max(len(requests), 1)
    return {f"exec.{k}": v / n for k, v in tot.items()}


def layer_metrics(h, res: dict, workload: str, events: dict) -> dict:
    # per-layer readings cover every operation the spans cover
    n_ops = max(len(res.get("requests", [])), 1)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({k: v for k, v in res.get("layers", {}).items() if k in PER_LAYER})
    out["api.memo_hit_ratio"] = (
        1.0 - h.build_calls / h.find_calls if h.find_calls else 0.0
    )
    own = measure.self_times(h.tracer.spans)
    for layer in harness.CONSTRUCT_LAYERS:
        s = sum(v for k, v in own.items() if k.startswith(layer + "."))
        out[f"construct.{layer}_ms"] = 1000.0 * s / n_ops
    totals = measure.total_times(h.tracer.spans)
    adv = sum(v for k, v in totals.items() if k.startswith("streaming.ingest.advance_"))
    out["streaming.ingest.advance_ms"] = 1000.0 * adv / n_ops
    out["cache.hits"], out["cache.misses"] = h.cache_hits, h.cache_misses
    out.update(exec_metrics(events, MAIN_PHASE[workload], res.get("requests", [])))
    return out


def layer_self_times(spans, n_ops: int) -> dict:
    """Self time per operation in ms, by layer module (the engine's
    public functions) or by the benchmark's own phase span."""
    layers = sorted(set(harness.LAYERS.values()), key=len, reverse=True)
    out: dict[str, float] = {}
    for name, sec in measure.self_times(spans).items():
        key = next((lay for lay in layers if name.startswith(lay + ".")), name)
        out[key] = out.get(key, 0.0) + 1000.0 * sec / max(n_ops, 1)
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nucliadb_spark")):
        print(f"perfbench: no engine package nucliadb_spark under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}-{int(time.time())}")
    env = pin_env(run_dir, traced)
    try:
        return _run(args, work, run_dir, env, traced)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, work, run_dir, env, traced) -> int:
    sd = corpus.ensure(work, SCALE, CORPUS_SEED)
    h = harness.Harness(run_dir, sd, traced)
    prebuild, run = workloads.WORKLOADS[args.workload]
    cpu0 = measure.read_cpu_jiffies()
    try:
        if traced:
            h.instrument()
        setup = h.setup(prebuild)
        h.reset_counters()
        res = run(h, args.seed, args.seconds)
        cache_state = h.cache_state()
        jvm_rss = measure.peak_rss_mb(h.jvm_pid())
        app_id = h.spark.sparkContext.applicationId
    finally:
        h.close()
    steal = measure.steal_pct(cpu0, measure.read_cpu_jiffies())
    py_rss = measure.peak_rss_mb()
    events = {}
    if traced:
        path = os.path.join(run_dir, "eventlog", app_id)
        if os.path.exists(path):
            events = measure.parse_event_log(path)
    tmp_bytes = measure.tree_bytes(run_dir)

    n_ops = res.get("samples", 0)
    correct = h.failed == 0 and n_ops > 0
    e2e = {
        "setup_s": setup["setup_s"],
        "op_cpu_p50_ms": res.get("op_cpu_p50_ms", 0.0),
        "ops_per_cpu_s": res.get("ops_per_cpu_s", 0.0),
    }
    layers = {}
    if traced:
        layers = layer_metrics(h, res, args.workload, events)
        layers.update(cache_state)
        layers.update(
            {
                "session.start_s": setup["session.start_s"],
                "index_build_s": setup["index_build_s"],
                "peak_rss_mb": jvm_rss + py_rss,
                "jvm_rss_mb": jvm_rss,
                "py_rss_mb": py_rss,
                "tmp_bytes": tmp_bytes,
            }
        )
    common = {
        "failed_share": h.failed / max(h.attempted, 1),
        "steal_pct": steal,
        **{k: res.get(k, 0.0) for k in WALL},
    }
    if traced:
        layers.update(common)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {**env, "steal_pct": round(steal, 3), "scale": SCALE},
        "samples": n_ops,
        "wall": {k: common[k] for k in WALL},
        "op_ms": res.get("op_ms", []),
        "op_cpu_ms": res.get("op_cpu_ms_all", []),
        "op_shapes": res.get("op_shapes", []),
        "setup": {k: round(v, 3) for k, v in setup.items()},
        "failed_share": common["failed_share"],
        "failures": h.failures,
        "layers_all": res.get("layers", {}),
        "probe_notes": res.get("probe_notes", []),
    }
    saved = os.path.join(work, f"untraced-{args.workload}-seed{args.seed}.json")
    readings = {**e2e, **report["wall"]}
    if traced:
        report["trace_gap_pct"] = _gap(saved, readings)
        report["self_ms_per_op"] = layer_self_times(h.tracer.spans, len(res.get("requests", [])))
        _print_table(layers, report)
        h.tracer.dump(os.path.join(work, f"last-spans-{args.workload}.jsonl"))
    else:
        with open(saved, "w") as f:
            json.dump(readings, f)
    print("perfbench report " + json.dumps(report, default=str))
    units = PER_LAYER if traced else END_TO_END
    metrics = layers if traced else e2e
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": h.attempted,
                "failed": h.failed,
                "metrics": {
                    k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


def _gap(saved: str, traced_e2e: dict) -> dict:
    """Traced minus untraced end-to-end readings (CPU and wall), as a
    percentage of the last untraced run of the same workload and seed."""
    try:
        with open(saved) as f:
            base = json.load(f)
    except (OSError, ValueError):
        return {}
    return {
        k: round(100.0 * (traced_e2e[k] - v) / v, 2)
        for k, v in base.items()
        if k in traced_e2e and v and k != "tail_pct"
    }


def _print_table(layers: dict, report: dict) -> None:
    print(f"per-layer readings, workload {report['workload']} seed {report['seed']}")
    for k, u in PER_LAYER.items():
        print(f"  {k:<44} {layers[k]:>16.4f} {u}")
    print("self time per operation, by layer (ms):")
    for k, v in report["self_ms_per_op"].items():
        print(f"  {k:<44} {v:>16.2f}")
    if report.get("trace_gap_pct"):
        print("tracing overhead vs the last untraced run (% of untraced):")
        for k, v in report["trace_gap_pct"].items():
            print(f"  {k:<44} {v:>+10.2f} %")


if __name__ == "__main__":
    sys.exit(main())
