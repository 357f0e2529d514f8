"""The ``analytics`` workload: registry queries over seeded sf0.1 tables.

One client runs each phase as a closed loop:

1. write phase: sweeps over ``QUERIES``, each query run to completion and
   materialized as parquet, until ``seconds`` have passed (at least one
   sweep);
2. read phase: the materialized results read back through Spark with
   ``.collect()``, round-robin, for ``seconds`` (every result at least once).

Correctness, checked after both phases: the first read of every materialized
result matches the query's ``oracle_sql`` run by DuckDB over the same parquet
inputs, by row count, column names and an order-insensitive hash of the
values; every later read of a result returns as many rows as the first.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import statistics
import time

import gen_tables
from harness import Harness
from tracing import Tracer, dir_files

SF = 0.1
# one query per family; order is the sweep order
QUERIES = (
    "q_join_multiway",  # joins
    "q_agg_groupby",  # aggregates
    "q_win_topk_group",  # windows
    "q_shape_q5",  # TPC-H-style composite
    "q_graph_ancestors",  # graph
    "q_cascade_expire",  # temporal
    "q_dedup_exact",  # exact dedup
    "q_sim_topk",  # similarity
    "q_text_stats",  # text
    "q_kmeans_assign",  # k-means
    "q_scd2_build",  # SCD2
)


_PLAIN = (str, int, bool, type(None))


def _norm(v):
    if type(v) in _PLAIN:
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def fingerprint(rows, cols: list[str]) -> tuple[int, list[str], int]:
    """(row count, sorted column names, order-insensitive value hash): the
    hash is the sum, modulo 2**64, of a hash of every normalized row, so
    equal row multisets give equal sums in any order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total, n = 0, 0
    for r in rows:
        total += hash(tuple(_norm(r[i]) for i in order))
        n += 1
    return n, sorted(cols), total % (1 << 64)


def oracle_fingerprints(data_dir: str, names) -> dict[str, tuple]:
    import duckdb

    from graph_vulcan_assets_spark.registry import all_oracle_sql

    sql = all_oracle_sql()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            table = f.removesuffix(".parquet")
            path = os.path.join(data_dir, f).replace("'", "''")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            res = con.execute(sql[name])
            rows = res.fetchall()
            out[name] = fingerprint(rows, [d[0] for d in res.description])
        return out
    finally:
        con.close()


def read_back(spark, tracer: Tracer, clock, w: dict, n: int, first: bool) -> dict:
    """Read one materialized result back; a traced run traces every other
    read, so that the tracing overhead is measured inside one run. Only the
    first read of a result keeps its rows (for the oracle check)."""
    rows, cols, err, sp = None, None, None, None
    c0 = clock.now()
    t0 = time.perf_counter()
    try:
        with tracer.span("spark.read.parquet", f"read-{n}", spark, skip=n % 2 == 1) as sp:
            df = spark.read.parquet(w["path"])
            rows, cols = df.collect(), df.columns
    except Exception as exc:  # noqa: BLE001 - a failed read is counted, the run goes on
        err = f"{type(exc).__name__}: {exc}"[:300]
    rec = {"write": w, "latency_s": time.perf_counter() - t0, "cpu_s": clock.now() - c0, "error": err,
           "traced": sp is not None, "n_rows": None if rows is None else len(rows)}
    if first:
        rec.update(rows=rows, cols=cols)
    if sp is not None:
        rec.update(jobs=sp["jobs"], stages=sp["stages"], tasks=sp["tasks"])
    return rec


def run(h: Harness, tracer: Tracer, seed: int, seconds: float) -> dict:
    from graph_vulcan_assets_spark.registry import all_queries
    from graph_vulcan_assets_spark.tables import TABLES, load_table

    queries = all_queries()
    t0 = time.perf_counter()
    data_dir = h.dir("sf")
    row_counts = gen_tables.write_tables(data_dir, seed, SF)
    gen_s = time.perf_counter() - t0

    with tracer.span("session.launch"):
        launch_s = h.start_session()

    # set-up, repeated: restart the session and open every input table
    def open_tables(spark):
        for t in TABLES:
            load_table(spark, data_dir, t)

    setup, _ = h.setup_cycles(tracer, "tables.load_table", open_tables)
    spark = h.spark

    # write phase: closed loop of query sweeps
    results_dir = h.dir("results")
    writes, failures = [], []
    t_phase = time.perf_counter()
    sweep = 0
    while sweep == 0 or time.perf_counter() - t_phase < seconds:
        for name in QUERIES:
            fn = queries[name]
            layer = fn.__module__.removeprefix("graph_vulcan_assets_spark.")
            path = os.path.join(results_dir, f"{name}-{sweep}")
            err = None
            c0 = h.cpu.now()
            t0 = time.perf_counter()
            try:
                with tracer.span(f"{layer}.{name}", req=f"sweep-{sweep}", spark=spark) as sp:
                    fn(spark, data_dir).write.mode("overwrite").parquet(path)
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, the run goes on
                err = f"{type(exc).__name__}: {exc}"[:300]
            rec = {"name": name, "path": path, "latency_s": time.perf_counter() - t0,
                   "cpu_s": h.cpu.now() - c0, "error": err, "items": 1}
            if sp is not None:
                files = dir_files(path)
                rec.update(jobs=sp["jobs"], stages=sp["stages"], tasks=sp["tasks"],
                           files_written=len(files), bytes_written=sum(files.values()))
            writes.append(rec)
        sweep += 1
    write_wall = time.perf_counter() - t_phase

    # read phase: closed loop of result read-backs, in whole rounds
    readable = [w for w in writes if w["error"] is None]
    reads = []
    t_phase = time.perf_counter()
    while readable and (not reads or time.perf_counter() - t_phase < seconds):
        for w in readable:
            reads.append(read_back(spark, tracer, h.cpu, w, len(reads), first=len(reads) < len(readable)))
    read_wall = time.perf_counter() - t_phase

    # traced runs: each query computed to a noop sink, without persisting
    compute = {}
    if tracer.enabled:
        for name in QUERIES:
            t0 = time.perf_counter()
            with tracer.span(f"compute.{name}", req="compute", spark=spark):
                queries[name](spark, data_dir).write.format("noop").mode("overwrite").save()
            compute[name] = time.perf_counter() - t0

    # correctness, outside every timed section
    t_check = time.perf_counter()
    truth = oracle_fingerprints(data_dir, QUERIES)
    failed = 0
    for w in writes:
        if w["error"] is not None:
            failures.append(f"{w['name']} ({os.path.basename(w['path'])}): {w['error']}")
            failed += 1
    first_read: dict[str, int] = {}
    for r in reads:
        w = r["write"]
        tag = f"{w['name']} ({os.path.basename(w['path'])})"
        if r["error"] is not None:
            failures.append(f"read {tag}: {r['error']}")
            failed += 1
        elif "rows" in r:
            fp = fingerprint(r["rows"], r["cols"])
            first_read[w["path"]] = fp[0]
            if fp != truth[w["name"]]:
                failures.append(
                    f"{tag}: {fp[0]} rows {fp[1]} vs oracle {truth[w['name']][0]} rows "
                    f"{truth[w['name']][1]}, value hash {'equal' if fp[2] == truth[w['name']][2] else 'differs'}"
                )
                failed += 1
        elif w["path"] in first_read and r["n_rows"] != first_read[w["path"]]:
            failures.append(f"read {tag}: {r['n_rows']} rows, first read had {first_read[w['path']]}")
            failed += 1

    check_s = time.perf_counter() - t_check

    first_sweep = [w for w in writes if w["path"].endswith("-0")]
    out = {
        "attempted": len(writes) + len(reads),
        "failed": failed,
        "failures": failures,
        "setup": setup,
        "writes": writes,
        "reads": reads,
        "read_wall_s": read_wall,
        "detail": {
            "generator": {"seed": seed, "sf": SF, "rows": row_counts, "queries": list(QUERIES)},
            "gen_s": gen_s,
            "session.launch_s": launch_s,
            "sweeps": sweep,
            "sweep_s": sum(w["latency_s"] for w in writes) / sweep,
            "write_wall_s": write_wall,
            "check_s": check_s,
            "query_s": {f"analytics.{w['name']}_s": w["latency_s"] for w in first_sweep},
        },
    }
    if tracer.enabled:
        store = {**dir_files(data_dir), **dir_files(results_dir)}
        out.update(
            store_files=len(store),
            store_bytes=sum(store.values()),
            compute_s=statistics.median(compute.values()),
            compute_share=sum(compute.values()) / sum(w["latency_s"] for w in first_sweep),
        )
        out["detail"]["query_tasks"] = {f"analytics.{w['name']}_tasks": w["tasks"] for w in first_sweep}
    return out
