"""The ``ingest`` workload: micro-batches applied to a preloaded state, then
inventory lookups over the state just written.

One client runs each phase as a closed loop (the next call starts only when
the previous one returned):

1. write phase: ``TemporalGraphStream.apply_batch`` on one JSON-lines
   micro-batch file after another, for ``seconds`` (at least one batch);
2. read phase: ``InventoryAPI`` requests with ``.collect()`` over
   ``read_state()``, in whole rounds over the endpoints, for ``seconds``
   (at least ``MIN_READS`` requests).

Correctness, checked after both phases: the final ``read_state()`` equals
``plans.interpreter.run`` over every message applied, and every lookup
response equals the answer derived from that interpreter state.
"""

from __future__ import annotations

import datetime
import itertools
import os
import random
import statistics
import time
from collections.abc import Iterator

import gen_events
from gen_events import EventParams, EventStream, write_jsonl
from harness import Harness
from tracing import Tracer, dir_files

ENDPOINTS = ("assets", "assets_valid_at", "teams", "owners", "parents", "children", "assets_after")
ABSENT_SHARE = 0.1
PAGE_SIZE = 20
MIN_READS = 3 * len(ENDPOINTS)

ASSET_COLS = ("type", "identifier", "first_seen", "last_seen", "expiration")
EDGE_COLS = (
    "child_type", "child_identifier", "parent_type", "parent_identifier",
    "first_seen", "last_seen", "expiration",
)
OWNER_COLS = ("team_id", "type", "asset_identifier", "start_time", "end_time", "team_name")
COLUMNS = {
    "assets": ASSET_COLS,
    "assets_valid_at": ASSET_COLS,
    "assets_after": ASSET_COLS,
    "teams": ("identifier", "name"),
    "owners": OWNER_COLS,
    "parents": EDGE_COLS,
    "children": EDGE_COLS,
}


# ---- requests -----------------------------------------------------------
def make_requests(seed: int, ev: EventStream) -> Iterator[dict]:
    """Endless lookups: endpoints in turn, asset keys Zipf-skewed like the
    stream, ``ABSENT_SHARE`` of the keys absent from the inventory."""
    rng = random.Random(seed * 7919 + 1)
    last_seq = ev.batches[-1][-1]["seq"]
    cum = list(itertools.accumulate(ev.weights))
    for i in itertools.count():
        ep = ENDPOINTS[i % len(ENDPOINTS)]
        a = ev.assets[rng.choices(ev.rank, cum_weights=cum)[0]]
        absent = rng.random() < ABSENT_SHARE
        req = {"endpoint": ep, "type": a.atype, "identifier": a.ident}
        if absent:
            req["identifier"] = f"absent-{rng.randrange(10**6)}.example.com"
        if ep == "assets_valid_at":
            req["valid_at"] = gen_events.T0 + datetime.timedelta(seconds=rng.randrange(last_seq))
        elif ep == "teams":
            req["team"] = f"team-{rng.randrange(ev.params.n_teams):02d}" if not absent else "team-absent"
        elif ep == "children":
            acct = a.account if not absent else "999999999999"
            req["type"], req["identifier"] = "AWSAccount", f"arn:aws:iam::{acct}:root"
        yield req


def call(api, req: dict):
    ep = req["endpoint"]
    if ep == "assets":
        return api.assets(req["type"], req["identifier"])
    if ep == "assets_valid_at":
        return api.assets(req["type"], req["identifier"], valid_at=req["valid_at"])
    if ep == "teams":
        return api.teams(req["team"])
    if ep == "owners":
        return api.owners(req["type"], req["identifier"])
    if ep == "parents":
        return api.parents(req["type"], req["identifier"])
    if ep == "children":
        return api.children(req["type"], req["identifier"])
    return api.assets_after((req["type"], req["identifier"]), size=PAGE_SIZE)


def expected(st, req: dict) -> list[tuple]:
    """The response the interpreter state implies, in the endpoint's order."""
    ep, key = req["endpoint"], (req["type"], req["identifier"])
    if ep in ("assets", "assets_valid_at"):
        a = st.assets.get(key)
        if a is None:
            return []
        if ep == "assets_valid_at" and not (a.first_seen <= req["valid_at"] <= a.expiration):
            return []
        return [(*key, a.first_seen, a.last_seen, a.expiration)]
    if ep == "assets_after":
        keys = sorted(k for k in st.assets if k > key)[:PAGE_SIZE]
        return [(*k, st.assets[k].first_seen, st.assets[k].last_seen, st.assets[k].expiration) for k in keys]
    if ep == "teams":
        t = req["team"]
        return [(t, st.teams[t])] if t in st.teams else []
    if ep == "owners":
        rows = [
            (t, at, idn, o.start_time, o.end_time, st.teams.get(t))
            for (at, idn, t), o in st.owns.items()
            if (at, idn) == key
        ]
        return sorted(rows)
    side = slice(0, 2) if ep == "parents" else slice(2, 4)
    rows = [(*k, e.first_seen, e.last_seen, e.expiration) for k, e in st.edges.items() if k[side] == key]
    order = slice(2, 4) if ep == "parents" else slice(0, 2)
    return sorted(rows, key=lambda r: r[order])


def lookup(api, spark, tracer: Tracer, clock, req: dict, n: int) -> dict:
    """One request, ``.collect()``ed. A traced run traces every other
    request, so that the tracing overhead is measured inside one run."""
    rows, err, sp = None, None, None
    c0 = clock.now()
    t0 = time.perf_counter()
    try:
        with tracer.span(f"plans.api.{req['endpoint']}", f"read-{n}", spark, skip=n % 2 == 1) as sp:
            rows = call(api, req).collect()
    except Exception as exc:  # noqa: BLE001 - a failed request is counted, the run goes on
        err = f"{type(exc).__name__}: {exc}"[:300]
    rec = {"latency_s": time.perf_counter() - t0, "cpu_s": clock.now() - c0, "req": req, "rows": rows,
           "error": err, "traced": sp is not None, "n_rows": None if rows is None else len(rows)}
    if sp is not None:
        rec.update(jobs=sp["jobs"], stages=sp["stages"], tasks=sp["tasks"])
    return rec


# ---- state comparison ---------------------------------------------------
def state_dicts(state: dict) -> tuple:
    """Spark state tables as the dicts ``tests/test_streaming.py`` compares."""
    assets = {
        (r["type"], r["identifier"]): (r["first_seen"], r["last_seen"], r["expiration"])
        for r in state["assets"].collect()
    }
    teams = {r["identifier"]: r["name"] for r in state["teams"].collect()}
    owns = {
        (r["type"], r["asset_identifier"], r["team_id"]): (r["start_time"], r["end_time"])
        for r in state["owns"].collect()
    }
    edges = {
        (r["child_type"], r["child_identifier"], r["parent_type"], r["parent_identifier"]): (
            r["first_seen"], r["last_seen"], r["expiration"],
        )
        for r in state["parent_of"].collect()
    }
    return assets, teams, owns, edges


def interpreter_dicts(st) -> tuple:
    assets = {k: (a.first_seen, a.last_seen, a.expiration) for k, a in st.assets.items()}
    owns = {k: (o.start_time, o.end_time) for k, o in st.owns.items()}
    edges = {k: (e.first_seen, e.last_seen, e.expiration) for k, e in st.edges.items()}
    return assets, dict(st.teams), owns, edges


# ---- the workload -------------------------------------------------------
def run(h: Harness, tracer: Tracer, seed: int, seconds: float) -> dict:
    from graph_vulcan_assets_spark.plans import interpreter
    from graph_vulcan_assets_spark.plans.api import InventoryAPI
    from graph_vulcan_assets_spark.plans.temporal import (
        RAW_SCHEMA,
        replay_raw,
        tag_union_state,
        tuned_for_batch,
    )
    from graph_vulcan_assets_spark.streaming.ingest import TemporalGraphStream

    params = EventParams()
    t0 = time.perf_counter()
    ev = EventStream(seed, params)
    inputs = h.dir("input")
    preload_path = os.path.join(inputs, "preload.jsonl")
    write_jsonl(ev.preload, preload_path)
    batch_paths = []
    for i, batch in enumerate(ev.batches, start=1):
        batch_paths.append(os.path.join(inputs, f"batch-{i:05d}.jsonl"))
        write_jsonl(batch, batch_paths[-1])
    gen_s = time.perf_counter() - t0

    with tracer.span("session.launch"):
        launch_s = h.start_session()
    state_dir = h.dir("state")
    t0 = time.perf_counter()
    with tracer.span("streaming.ingest.apply_batch", req="preload", spark=h.spark):
        TemporalGraphStream(h.spark, state_dir).apply_batch(
            h.spark.read.schema(RAW_SCHEMA).json(preload_path), 0
        )
    preload_s = time.perf_counter() - t0

    # set-up, repeated: restart the session and reopen the store
    def open_store(spark):
        stream = TemporalGraphStream(spark, state_dir)
        InventoryAPI(stream.read_state())
        return stream

    setup, stream = h.setup_cycles(tracer, "store.open", open_store)
    spark = h.spark

    # write phase: closed loop of micro-batches
    writes = []
    applied = list(ev.preload)
    t_phase = time.perf_counter()
    for i, path in enumerate(batch_paths, start=1):
        if i > 1 and time.perf_counter() - t_phase >= seconds:
            break
        before = dir_files(state_dir) if tracer.enabled else None
        err = None
        c0 = h.cpu.now()
        t0 = time.perf_counter()
        try:
            with tracer.span("streaming.ingest.apply_batch", req=f"batch-{i}", spark=spark) as sp:
                stream.apply_batch(spark.read.schema(RAW_SCHEMA).json(path), i)
        except Exception as exc:  # noqa: BLE001 - a failed batch is counted, the run goes on
            err = f"{type(exc).__name__}: {exc}"[:300]
        dt = time.perf_counter() - t0
        applied.extend(ev.batches[i - 1])
        rec = {"latency_s": dt, "cpu_s": h.cpu.now() - c0, "items": len(ev.batches[i - 1]),
               "path": path, "error": err}
        if sp is not None:
            after = dir_files(state_dir)
            new = {p: s for p, s in after.items() if p not in before}
            rec.update(
                jobs=sp["jobs"], stages=sp["stages"], tasks=sp["tasks"],
                files_written=len(new), bytes_written=sum(new.values()),
                store_files=len(after), store_bytes=sum(after.values()),
            )
        writes.append(rec)
    write_wall = time.perf_counter() - t_phase

    # read phase: closed loop of lookups over the state just written
    api = InventoryAPI(stream.read_state())
    requests = make_requests(seed, ev)
    reads = []
    t_phase = time.perf_counter()
    while len(reads) < MIN_READS or time.perf_counter() - t_phase < seconds:
        for _ in ENDPOINTS:
            reads.append(lookup(api, spark, tracer, h.cpu, next(requests), len(reads)))
    read_wall = time.perf_counter() - t_phase

    # traced runs: the replay alone over the last applied batch (no seeding,
    # no state I/O), under the same batch-size tuning apply_batch uses
    compute_s = None
    if tracer.enabled:
        last = spark.read.schema(RAW_SCHEMA).json(writes[-1]["path"])
        t0 = time.perf_counter()
        with tracer.span("plans.temporal.replay", req=f"batch-{len(writes)}", spark=spark):
            with tuned_for_batch(spark, last.count()):
                tag_union_state(replay_raw(last)).write.format("noop").mode("overwrite").save()
        compute_s = time.perf_counter() - t0

    # correctness, outside every timed section
    t_check = time.perf_counter()
    truth = interpreter.run(applied)
    failures = [f"batch {i}: {w['error']}" for i, w in enumerate(writes, start=1) if w["error"]]
    failed = len(failures)
    if state_dicts(stream.read_state()) != interpreter_dicts(truth):
        failures.append(f"final state after {len(writes)} batches differs from the interpreter")
        failed = len(writes)
    for n, r in enumerate(reads):
        if r["error"] is not None:
            failures.append(f"read {n} {r['req']['endpoint']}: {r['error']}")
            failed += 1
            continue
        got = [tuple(row[c] for c in COLUMNS[r["req"]["endpoint"]]) for row in r["rows"]]
        if got != expected(truth, r["req"]):
            failures.append(f"read {n} {r['req']['endpoint']} {r['req'].get('identifier')}: response differs")
            failed += 1

    check_s = time.perf_counter() - t_check

    out = {
        "attempted": len(writes) + len(reads),
        "failed": failed,
        "failures": failures,
        "setup": setup,
        "writes": writes,
        "reads": reads,
        "read_wall_s": read_wall,
        "detail": {
            "generator": {"seed": seed, **vars(params), "absent_share": ABSENT_SHARE, "page_size": PAGE_SIZE,
                          "preload_events": len(ev.preload), "assets": len(ev.assets)},
            "gen_s": gen_s,
            "session.launch_s": launch_s,
            "ingest.preload_s": preload_s,
            "batches": len(writes),
            "events_applied": sum(w["items"] for w in writes),
            "write_wall_s": write_wall,
            "check_s": check_s,
            "batch_latencies_s": [w["latency_s"] for w in writes],
        },
    }
    if tracer.enabled:
        out.update(
            store_files=writes[-1]["store_files"],
            store_bytes=writes[-1]["store_bytes"],
            compute_s=compute_s,
            compute_share=compute_s / writes[-1]["latency_s"],
        )
        traced = [r for r in reads if r["traced"]]
        out["detail"]["endpoints"] = {
            f"api.{ep}_p50_ms": statistics.median(r["latency_s"] for r in traced if r["req"]["endpoint"] == ep) * 1000
            for ep in ENDPOINTS
            if any(r["req"]["endpoint"] == ep for r in traced)
        }
    return out
