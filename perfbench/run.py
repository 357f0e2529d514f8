"""Benchmark command for graph_vulcan_assets_spark.

    python3 perfbench/run.py --workload {ingest,analytics} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The run builds its inputs from ``--seed``,
starts a host-sized Spark session through the package's ``get_spark``,
measures each phase of the workload for ``--seconds``, checks every output
against an independent oracle, and prints one JSON object as the last line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
the run records spans and Spark job counts around every call and the metrics
are the per-layer ones. The line before it holds the run's details (generator
parameters, load average, per-endpoint and per-query figures, every
mismatch). Spans are written to ``.bench_out/`` at the end. METRICS.md
defines every metric and which workload moves it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from tracing import quantile

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "write_cpu_ms": "ms",
    "read_cpu_ms": "ms",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "store.open_s": "s",
    "store.files": "count",
    "store.bytes": "bytes",
    "write.op_s": "s",
    "write.jobs_per_op": "count",
    "write.stages_per_op": "count",
    "write.tasks_per_op": "count",
    "write.files_per_op": "count",
    "write.bytes_per_op": "bytes",
    "write.compute_s": "s",
    "write.compute_share": "ratio",
    "read.op_ms": "ms",
    "read.jobs_per_op": "count",
    "read.tasks_per_op": "count",
    "read.rows_per_op": "count",
    "trace.self_share": "ratio",
    "trace.read_overhead_ms": "ms",
}


def e2e_metrics(res: dict) -> dict:
    return {
        "setup_s": statistics.median(res["setup"]["cycles"]),
        "write_cpu_ms": statistics.mean(w["cpu_s"] for w in res["writes"]) * 1000,
        "read_cpu_ms": statistics.mean(r["cpu_s"] for r in res["reads"]) * 1000,
    }


def detail_metrics(res: dict) -> dict:
    """Wall-clock latency and throughput, and set-up CPU: detail line only."""
    write_lat = [w["latency_s"] for w in res["writes"]]
    read_lat = [r["latency_s"] for r in res["reads"]]
    return {
        "write_geomean_ms": statistics.geometric_mean(write_lat) * 1000,
        "write_p50_ms": statistics.median(write_lat) * 1000,
        "write_items_per_s": sum(w["items"] for w in res["writes"]) / sum(write_lat),
        "read_geomean_ms": statistics.geometric_mean(read_lat) * 1000,
        "read_p50_ms": statistics.median(read_lat) * 1000,
        "read_p90_ms": quantile(read_lat, 0.9) * 1000,
        "reads_per_s": len(read_lat) / res["read_wall_s"],
        "reads": len(read_lat),
        "read_wall_s": res["read_wall_s"],
        "setup_cpu_s": statistics.median(res["setup"]["cpu"]),
    }


def layer_metrics(res: dict, tracer) -> dict:
    med = statistics.median
    writes = res["writes"]
    traced = [r for r in res["reads"] if r["traced"] and r["error"] is None]
    untraced = [r["latency_s"] for r in res["reads"] if not r["traced"]]
    run_span = next(s for s in tracer.spans if s["name"] == "run")
    return {
        "session.start_s": med(res["setup"]["starts"]),
        "store.open_s": med(res["setup"]["opens"]),
        "store.files": res["store_files"],
        "store.bytes": res["store_bytes"],
        "write.op_s": med(w["latency_s"] for w in writes),
        "write.jobs_per_op": med(w["jobs"] for w in writes),
        "write.stages_per_op": med(w["stages"] for w in writes),
        "write.tasks_per_op": med(w["tasks"] for w in writes),
        "write.files_per_op": med(w["files_written"] for w in writes),
        "write.bytes_per_op": med(w["bytes_written"] for w in writes),
        "write.compute_s": res["compute_s"],
        "write.compute_share": res["compute_share"],
        "read.op_ms": med(r["latency_s"] for r in traced) * 1000,
        "read.jobs_per_op": med(r["jobs"] for r in traced),
        "read.tasks_per_op": med(r["tasks"] for r in traced),
        "read.rows_per_op": med(r["n_rows"] for r in traced),
        "trace.self_share": tracer.self_s / (run_span["end"] - run_span["start"]),
        "trace.read_overhead_ms": (med(r["latency_s"] for r in traced) - med(untraced)) * 1000,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(CHECKOUT, "graph_vulcan_assets_spark", "__init__.py")):
        print(f"error: no graph_vulcan_assets_spark package under {CHECKOUT}", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)

    from harness import Harness
    from tracing import Tracer, jvm_peak_rss_mb

    if args.workload == "ingest":
        import ingest as workload
    else:
        import analytics as workload

    h = Harness(CHECKOUT, args.workload)
    tracer = Tracer(enabled=bool(args.trace))
    try:
        with tracer.span("run", req=args.workload):
            res = workload.run(h, tracer, args.seed, args.seconds)
        peak_rss = jvm_peak_rss_mb(h.spark)
    except Exception:  # noqa: BLE001 - the run cannot produce a result
        traceback.print_exc()
        return 1
    finally:
        loadavg_end = os.getloadavg()
        t_close = time.perf_counter()
        h.close()
        close_s = time.perf_counter() - t_close

    detail = res["detail"]
    detail.update(detail_metrics(res))
    detail.update(
        workload=args.workload,
        seconds=args.seconds,
        trace=args.trace,
        master=h.master,
        driver_memory=h.driver_mem,
        loadavg_start=h.loadavg_start,
        loadavg_end=loadavg_end,
        close_s=close_s,
        wall_s=time.perf_counter() - T_START,
        peak_rss_mb=peak_rss,
        error_rate=res["failed"] / max(1, res["attempted"]),
        failures=res["failures"],
    )
    if args.trace:
        layers = layer_metrics(res, tracer)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        detail["layer_self_s"] = tracer.self_times()
        trace_path = os.path.join(
            CHECKOUT, ".bench_out", f"{args.workload}-seed{args.seed}-trace.jsonl"
        )
        tracer.dump(trace_path)
        detail["trace_file"] = os.path.relpath(trace_path, CHECKOUT)
    else:
        e2e = e2e_metrics(res)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print("detail " + json.dumps(detail, default=str))
    print(
        f"error_rate {detail['error_rate']:.4f} ({res['failed']} of {res['attempted']} operations)"
        + "".join(f"\n  mismatch: {f}" for f in res["failures"])
    )
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
