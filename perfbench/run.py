"""konlspark workload benchmark.

    python3 perfbench/run.py --workload index_lifecycle --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. ``--workload all`` runs both
workloads one after another in one Spark session. The run prints each
workload's end-to-end numbers by name with their units, and as its last
line one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics of an untraced pass;
``--trace 1`` repeats the pass with Spark's event log attached and
reports the per-layer metrics, including the tracing overhead. Every
answer is checked; the exit code is 1 if any was wrong, 2 if the
program under test cannot be imported.

Reports, the traced pass's per-span table and the Spark confs in effect
go to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "items/s",
}

LAYER_UNITS = {
    "build.dedup_assign_ids_s": "s",
    "build.tokenize_write_docs_s": "s",
    "build.docs_stats_s": "s",
    "build.write_postings_and_side_tables_s": "s",
    "build.jobs": "count",
    "build.tasks": "count",
    "build.driver_idle_s": "s",
    "build.executor_cpu_s": "s",
    "build.gc_s": "s",
    "build.shuffle_bytes": "bytes",
    "build.spill_bytes": "bytes",
    "build.encode_tasks": "count",
    "build.encode_task_skew": "ratio",
    "build.bytes_written": "bytes",
    "tokenizer.python_s": "s",
    "codec.encode_python_s": "s",
    "codec.decode_python_s_per_query": "s",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.jobs_per_query": "count",
    "query.tasks_per_query": "count",
    "query.driver_idle_s": "s",
    "query.rows_read_per_query": "rows",
    "query.rows_read_per_result": "ratio",
    "query.shuffle_bytes_per_query": "bytes",
    "query.batch_jobs": "count",
    "query.batch_rows_read": "rows",
    "query.refresh_s": "s",
    "ingest.append_jobs": "count",
    "ingest.append_python_s": "s",
    "ingest.append_bytes_per_turn": "bytes",
    "ingest.delete_s": "s",
    "ingest.parts_live": "count",
    "ingest.compact_jobs": "count",
    "ingest.compact_bytes_rewritten": "bytes",
    "ops.minhash_lsh_s": "s",
    "ops.simhash_s": "s",
    "ops.jaccard_s": "s",
    "ops.cosine_topk_s": "s",
    "ops.textstats_s": "s",
    "ops.tasks": "count",
    "ops.shuffle_bytes": "bytes",
    "ops.driver_idle_s": "s",
    "ops.near_dup_recall": "ratio",
    "host.steal_pct": "%",
    "host.cpu_busy_pct": "%",
    "host.jvm_peak_rss_mb": "MB",
    "trace.latency_p50_s_delta": "s",
    "trace.throughput_per_s_delta": "items/s",
    "trace.unattributed_jobs": "count",
}


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def _traced_pass(spark, w, args, work: str, e2e: dict):
    """Repeat the pass with Spark's event log attached; fold the log and
    the pass's spans into the per-layer metrics and one row per span."""
    from perfbench import env, trace

    rec = trace.Recorder()
    with trace.EventLog(spark, os.path.join(work, "eventlog"),
                        f"{w.name}-{args.seed}") as log:
        cpu = env.CpuWindow()
        w.run_pass(rec, args.seconds)
        host = cpu.stop()
    per, unattributed = trace.attribute(rec.spans,
                                        trace.parse_event_log(log.path))
    traced = w.e2e(rec)
    layers = dict(w.layers(rec, per))
    layers.update({
        "host.steal_pct": host["steal_pct"],
        "host.cpu_busy_pct": host["cpu_busy_pct"],
        "host.jvm_peak_rss_mb": env.jvm_peak_rss_mb(spark),
        "trace.latency_p50_s_delta": (traced["latency_p50_s"]
                                      - e2e["latency_p50_s"]),
        "trace.throughput_per_s_delta": (traced["throughput_per_s"]
                                         - e2e["throughput_per_s"]),
        "trace.unattributed_jobs": unattributed,
    })
    spans = [{"name": s.name, "start": s.start, "dur_s": s.dur,
              **{k: v for k, v in s.attrs.items() if k != "nested"},
              **{k: v for k, v in per[i].items() if k != "stages"},
              "stages": len(per[i]["stages"])}
             for i, s in enumerate(rec.spans)]
    return rec, layers, spans


def run_workload(spark, name: str, args, work: str, out_dir: str,
                 t_start: float) -> dict:
    from perfbench import env, trace
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[name](spark, os.path.join(work, name), args.seed, args.size,
                        corrupt=args.corrupt)
    os.makedirs(w.work, exist_ok=True)
    setup_rec = trace.Recorder()
    w.setup(setup_rec)
    setup_s = time.time() - t_start - w.prep_s

    rec = trace.Recorder()
    cpu = env.CpuWindow()
    w.run_pass(rec, args.seconds)
    host = cpu.stop()
    e2e = dict(w.e2e(rec), setup_s=setup_s)
    report = {
        "workload": name, "seed": args.seed, "size": args.size,
        "seconds": args.seconds, "inputs_digest": w.digest,
        "cores": env.host_cores(), "driver_memory_mb": env.driver_memory_mb(),
        "spark_version": spark.version, "spark_confs": env.effective_confs(spark),
        "prep_s": w.prep_s,
        "setup_spans": {s.name: s.dur for s in setup_rec.spans},
        "wall_s": time.time() - t_start,
        "call_s": {n: [s.dur for s in rec.of(n)]
                   for n in sorted({s.name for s in rec.spans})},
        "end_to_end": e2e,
        "host": host,
        "headline": {k: {"value": v, "unit": u}
                     for k, (v, u) in w.headline(rec).items()},
    }
    attempted, failed, failures = rec.attempted, rec.failed, rec.failures
    metrics = _metrics(e2e, E2E_UNITS)

    if args.trace:
        rec_t, layers, spans = _traced_pass(spark, w, args, work, e2e)
        metrics = _metrics(layers, LAYER_UNITS)
        report.update(traced_end_to_end=w.e2e(rec_t), layers=layers,
                      spans=spans)
        attempted += rec_t.attempted
        failed += rec_t.failed
        failures += rec_t.failures

    report.update(attempted=attempted, failed=failed, failures=failures,
                  failed_op_ratio=failed / max(1, attempted))
    path = os.path.join(out_dir, f"{name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)

    print(f"{name}: seed={args.seed} inputs={w.digest} "
          f"attempted={attempted} failed={failed}")
    for k, v in report["headline"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(f"  failed_op_ratio = {report['failed_op_ratio']:.6g} ratio")
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    for msg in failures:
        print(f"  FAILED {msg}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["index_lifecycle", "dedup_ops", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="measured call time per pass (whole loop units)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: the self-test's small inputs")
    ap.add_argument("--corrupt", action="store_true",
                    help="falsify one expected answer (checker self-test)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import konlspark.build  # noqa: F401  the program under test
    except ImportError as e:
        print(f"cannot import konlspark from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import env

    out_dir = os.path.join(HERE, "out")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    env.prepare_process_env(ROOT, work)
    names = (["index_lifecycle", "dedup_ops"]
             if args.workload == "all" else [args.workload])
    results = {}
    spark = None
    try:
        spark = env.start_spark(ROOT, work, env.host_cores(),
                                env.driver_memory_mb())
        t_start = T_START
        for name in names:
            results[name] = run_workload(spark, name, args, work, out_dir,
                                         t_start)
            t_start = time.time()
    finally:
        if spark is not None:
            env.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "workloads": results}
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
