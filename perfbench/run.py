"""Seeded end-to-end benchmark of the medallion engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see README.md in this
directory): ``txn_pipeline`` and ``corpus_dedup_search``. Each run is a
fresh process and Spark session on ``local[<cores>]``; inputs are generated from ``--seed`` into a scratch
root under the checkout, which is removed at the end.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the entry points of every layer are wrapped with spans, the
spans are written to ``.perfbench_out/`` and the metrics are the per-layer
ones. The line before it is a report with the workload's input
properties, output checks and the metrics under their workload names.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "bulk_s": "s",
    "stored_bytes_per_input_byte": "ratio",
}
LAYERS = (
    "session", "managed_table", "structured", "medallion", "fraud", "dedup",
    "retrieval", "similarity",
)
# per-layer span shares: metric name -> (span name, table tag or None)
SPAN_SHARES = {
    "managed_table.merge_upsert_share": ("managed_table.merge_upsert", None),
    "managed_table.append_share": ("managed_table.append", None),
    "managed_table.create_or_overwrite_share": ("managed_table.create_or_overwrite", None),
    "managed_table.optimize_share": ("managed_table.optimize", None),
    "structured.batch_share": ("structured.batch", None),
    "medallion.silver_merge_share": ("managed_table.merge_upsert", "silver"),
    "medallion.gold_merchant_share": ("managed_table.create_or_overwrite", "gold_merchant"),
    "medallion.gold_features_share": ("managed_table.create_or_overwrite", "gold_features"),
    "medallion.gold_hourly_share": ("managed_table.create_or_overwrite", "gold_hourly"),
    "fraud.train_compare_share": ("fraud.train_compare", None),
    "fraud.evaluate_share": ("fraud.evaluate", None),
    "fraud.batch_score_share": ("fraud.batch_score_write", None),
    "dedup.minhash_pairs_share": ("dedup.minhash_pairs", None),
    "dedup.index_build_share": ("dedup.index_build", None),
    "dedup.index_match_new_share": ("dedup.match_new_collect", None),
    "dedup.index_add_share": ("dedup.index_add", None),
    "retrieval.build_share": ("retrieval.build", None),
    "retrieval.append_share": ("retrieval.append", None),
    "retrieval.probe_share": ("retrieval.probe_collect", None),
    "similarity.ivf_build_share": ("similarity.ivf_build", None),
    "similarity.ivf_append_share": ("similarity.ivf_append", None),
    "similarity.ivf_probe_share": ("similarity.ivf_probe_collect", None),
}


class Run:
    """What a workload needs: session, seed, time budget, scratch root,
    tracer and the operation counts."""

    def __init__(self, spark, seed, seconds, scratch, tracer, ops):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.scratch, self.tracer, self.ops = scratch, tracer, ops


def isolate(scratch: str) -> None:
    """Keep every file the run writes inside ``scratch``: Spark's local
    dirs, the JVM's and Python's temp dirs. ``-XX:-UsePerfData`` stops the
    JVM writing its monitoring file under the system temp dir."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    tmp = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    import tempfile

    tempfile.tempdir = tmp


def stop(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it: the
    gateway process exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def layer_metrics(tracer, workload, run, wall: float, setup: dict) -> dict:
    """Per-layer metrics from the measured-phase spans and the files.
    Span times are shares of ``wall``, the measured phase's duration."""
    spans = tracer.measured()
    self_s = tracer.self_times()
    out: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
    }
    jobs = [s for s in spans if "jobs" in s]
    out["spark.jobs"] = (sum(s["jobs"] for s in jobs), "count")
    out["spark.tasks"] = (sum(s["tasks"] for s in jobs), "count")
    out["spark.failed_tasks"] = (sum(s["failed_tasks"] for s in jobs), "count")
    for layer in LAYERS[1:]:
        busy = sum(self_s[s["id"]] for s in spans if s["name"].split(".")[0] == layer)
        out[f"{layer}.self_share"] = (busy / wall, "share")
    for metric, (name, table) in SPAN_SHARES.items():
        busy = sum(
            s["end"] - s["start"] for s in spans
            if s["name"] == name and (table is None or s.get("table", "").startswith(table))
        )
        out[metric] = (busy / wall, "share")
    counts = workload.layer_counts(run)
    mt = counts.pop("managed_table", None) or {}
    out["managed_table.commits"] = (mt.get("commits", 0), "count")
    out["managed_table.bytes_written_per_input_byte"] = (
        mt["bytes_written"] / mt["input_bytes"] if mt else 0.0, "ratio")
    out["managed_table.bytes_hardlinked"] = (mt.get("bytes_hardlinked", 0), "bytes")
    out["managed_table.buckets_rewritten_share"] = (mt.get("buckets_rewritten_share", 0.0), "share")
    out["managed_table.rows_rewritten_per_changed_row"] = (
        mt.get("rows_rewritten_per_changed_row", 0.0), "ratio")
    batch_s = counts.pop("structured.batch_s", 0.0)
    batch_ids = {s["id"] for s in spans if s["name"] == "structured.batch"}
    child = sum(s["end"] - s["start"] for s in spans if s["parent"] in batch_ids)
    out["structured.batch_overhead_share"] = (max(batch_s - child, 0.0) / wall, "share")
    defaults = {
        "structured.batches": "count", "structured.input_rows": "count",
        "structured.rows_scanned_per_input_row": "ratio",
        "medallion.silver_rows": "count", "medallion.quarantine_rows": "count",
        "medallion.gold_rows": "count", "medallion.gold_overcount_rows": "count",
        "fraud.train_rows": "count", "dedup.candidates": "count",
        "dedup.pairs_per_candidate": "ratio", "dedup.planted_recall": "ratio",
        "retrieval.buckets_read_per_query": "count",
        "similarity.rows_scanned_per_query": "count",
    }
    for name, unit in defaults.items():
        out[name] = (counts.get(name, 0), unit)
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    import workloads
    from databricks_etl_pipelines_spark import session
    from spans import NullRecorder, Recorder

    if args.workload not in workloads.WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    scratch = os.path.join(REPO, ".perfbench_tmp", run_id)
    out_dir = os.path.join(REPO, ".perfbench_out")
    isolate(scratch)
    tracer = Recorder(run_id) if args.trace else NullRecorder()
    if args.trace:
        tracer.install()
    workload = workloads.WORKLOADS[args.workload]()
    ops = workloads.Ops()
    spark = None
    try:
        t = time.perf_counter()
        spark = session.get_spark()
        get_spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer.sc = spark.sparkContext
        run = Run(spark, args.seed, args.seconds, scratch, tracer, ops)
        t = time.perf_counter()
        workload.make_inputs(run)
        t_inputs = time.perf_counter()
        workload.warm_up(run)
        spark.catalog.clearCache()
        setup_s = time.perf_counter() - PROCESS_START
        setup_parts = {
            "get_spark_s": get_spark_s,
            "inputs_s": t_inputs - t,
            "warm_up_s": time.perf_counter() - t_inputs,
        }

        tracer.phase = "measure"
        t = time.perf_counter()
        measured = workload.measure(run)
        measure_s = time.perf_counter() - t
        tracer.phase = "check"
        spark.catalog.clearCache()
        extra = workload.check(run)
        layers = (
            layer_metrics(tracer, workload, run, measure_s, setup_parts)
            if args.trace else None
        )
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass

    e2e = {"setup_s": setup_s, **measured["e2e"]}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": workload.properties(),
        "setup": setup_parts,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            **measured["report"],
            **extra,
            "ops_failed_share": {"value": ops.failed / max(ops.attempted, 1), "unit": "ratio"},
        },
        "failures": ops.failures,
    }
    os.makedirs(out_dir, exist_ok=True)
    untraced_path = os.path.join(out_dir, f"untraced-{args.workload}-{args.seed}.json")
    if args.trace:
        tracer.write(os.path.join(out_dir, f"trace-{run_id}.json"))
        report["trace_file"] = os.path.relpath(os.path.join(out_dir, f"trace-{run_id}.json"), REPO)
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                base = json.load(f)
            report["tracing_overhead"] = {
                k: e2e[k] / base[k] - 1.0 for k in ("op_p50_ms", "bulk_s") if base.get(k)
            }
        metrics = layers
    else:
        with open(untraced_path, "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps(report, default=float))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
