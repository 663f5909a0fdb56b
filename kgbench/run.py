"""KG-construction benchmark: one command, three workloads.

    python3 kgbench/run.py --workload {extract,build,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Prints every metric by name with its
unit, the host context, and as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.  See README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s", "docs_per_s": "docs/s", "wall_s": "s",
    "lag_p50_s": "s", "lag_p90_s": "s", "peak_rss_mb": "MB",
}


PER_LAYER_UNITS = {
    "sources.scan_s": "s", "sources.input_bytes": "bytes",
    "sources.broadcast_s": "s",
    "kernel.tokenize_us_per_doc": "us/doc", "kernel.match_us_per_doc": "us/doc",
    "kernel.triples_us_per_doc": "us/doc", "kernel.gazetteer_build_ms": "ms",
    "kernel.tokens_per_doc": "tokens/doc",
    "kernel.mentions_per_doc": "mentions/doc",
    "annotate.stage_s": "s", "annotate.executor_cpu_s": "s",
    "annotate.overhead_s": "s", "annotate.output_bytes": "bytes",
    "lineage.checkpoint_write_s": "s",
    "lineage.bytes_written_per_input_byte": "ratio",
    "linking.stats_s": "s", "linking.link_s": "s",
    "linking.shuffle_bytes": "bytes", "linking.spill_bytes": "bytes",
    "linking.task_skew": "ratio",
    **{f"linking.level{i}_n": "count" for i in range(6)},
    "linking.linked_ratio": "ratio",
    "canonicalize.s": "s", "canonicalize.candidate_pairs": "count",
    "canonicalize.kept_ratio": "ratio",
    "graph.edges_vertices_s": "s", "graph.materialize_s": "s",
    "graph.bytes_written": "bytes", "graph.files_written": "count",
    "graph.head_keys": "count", "graph.edge_partition_skew": "ratio",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.add_batch_share": "ratio", "streaming.wal_commit_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.backlog_files": "count",
    "streaming.generator_late_ms": "ms",
    "spark.gc_s": "s", "trace.overhead_s": "s",
    **{f"self.{layer}_s": "s" for layer in (
        "sources", "kernel", "annotate", "lineage", "linking",
        "canonicalize", "graph", "streaming")},
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract", "build", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def run(workload: str, seed: int, seconds: float, trace: bool,
        sizes=None) -> dict:
    """One benchmark run; returns the full result record."""
    from tour import event_log_metrics, run_tour, self_time_metrics
    from tracing import read_event_log
    from workloads import WORKLOADS, Sizes

    sizes = sizes or Sizes()
    ctx = harness.host_context()
    t0 = time.perf_counter()
    spark = harness.start_session(traced=trace)
    session_s = time.perf_counter() - t0
    layer: dict = {}
    try:
        with harness.RssSampler(harness.jvm_pid(spark)) as rss:
            wl = WORKLOADS[workload](spark, seed, seconds, sizes)
            wl.prepare()
            setup_s = session_s + wl.setup()
            rss.reset()
            e2e = wl.measure()
            e2e["peak_rss_mb"] = rss.peak / 2 ** 20
            wl.check()
            e2e["setup_s"] = setup_s
            if trace:
                tr, layer, run_ids, aux = run_tour(spark, wl, seed, seconds,
                                                   sizes, e2e)
    finally:
        harness.stop_session(spark)
    if trace:
        groups = read_event_log(harness.event_log_dir(), run_ids)
        layer.update(event_log_metrics(groups, aux))
        layer.update(self_time_metrics(tr))
        layer = {k: float(v) for k, v in layer.items()}
        tr.write(harness.WORK_DIR / "trace" / "spans.json")
        harness.save_json(harness.WORK_DIR / "trace" / "groups.json",
                          {k: {kk: vv for kk, vv in g.items()
                               if kk != "stage_task_ms"}
                           for k, g in groups.items()})
    ctx["loadavg_after"] = harness.loadavg()
    info = dict(wl.info)
    info["session_s"] = session_s
    return {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": int(trace), "host": ctx, "info": info,
            "end_to_end": e2e, "per_layer": layer,
            "attempted": wl.attempted, "failed": wl.failed,
            "problems": wl.problems}


def report(res: dict) -> dict:
    """Human-readable lines on stdout; returns the final JSON object."""
    w = res["workload"]
    for name, v in res["end_to_end"].items():
        print(f"{w:8s} {name:40s} {v:16.6f} {END_TO_END_UNITS[name]}")
    err = res["failed"] / res["attempted"]
    print(f"{w:8s} {'error_rate':40s} {err:16.6f} ratio "
          f"({res['failed']} failed of {res['attempted']})")
    for name, v in sorted(res["per_layer"].items()):
        print(f"{w:8s} {name:40s} {v:16.6f} {PER_LAYER_UNITS[name]}")
    for p in res["problems"]:
        print(f"{w:8s} problem: {p}")
    print("host " + json.dumps(res["host"], sort_keys=True))
    if res["trace"]:
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                   for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in res["end_to_end"].items()}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    harness.prepare_env()
    if importlib.util.find_spec(harness.PACKAGE) is None:
        print(f"kgbench: package {harness.PACKAGE} not found under "
              f"{harness.REPO_ROOT}", file=sys.stderr)
        return 2
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    harness.save_json(harness.WORK_DIR / "results" /
                      f"{args.workload}-s{args.seed}-t{args.trace}.json", res)
    out = report(res)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
