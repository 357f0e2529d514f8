"""Structured Streaming ingestion of the asset event stream.

Reference behavior re-expressed (SURVEY.md §2.9):
- at-least-once delivery with offset-commit-after-processing
  (stream/kafka/kafka.go:31-51,98-104) → checkpointed micro-batches plus an
  IDEMPOTENT foreachBatch sink (an already-applied batch_id is skipped), so
  replays after a crash converge to the same state — effective
  exactly-once on the state tables.
- strictly sequential per-key processing (kafka.go:69-105) → events within
  a micro-batch are ordered by `seq` inside the replay; the seeded state
  carries pseudo-events below every real seq, so cross-batch order is
  preserved exactly.
- tombstone / cascade semantics: identical code path as batch — the
  micro-batch's decoded events are unioned with seed events derived from
  the persisted state and run through plans.temporal.replay_from_events.

Scale notes: incremental compute AND state I/O are O(micro-batch), not
O(state). Each state table is a ``BucketTable`` (sources/bucketstore.py)
under ``state_dir/<table>``, hash-bucketed by its natural key
(``pmod(xxhash64(key), N)``); a micro-batch
- reads ONLY the buckets its touched keys hash into,
- seeds EVERY row of those buckets and replays the seeds together with
  the batch's events: ``seed_events`` round-trips any stored row exactly,
  so a same-bucket row the batch has no event for comes back unchanged,
- and commits the replay output as the complete new content of ONLY
  those buckets, as ``batch=N/bucket=B`` version dirs (every table's
  version for batch N is N).
Seeding and replay cost O(touched buckets × rows per bucket) — the same
bound as the bucket read and rewrite the sink pays anyway; more buckets
make each touched slice smaller. Untouched buckets are never read, never
rewritten — their files stay byte-identical across batches
(test-pinned). The tables' own commits are not the commit point:
``_applied/N`` is written after all five tables committed N, and every
read resolves each table as of the newest acknowledged batch, listed
once per batch. A crash mid-write therefore leaves table versions no
reader sees, and the redelivered batch re-applies against the previous
acknowledged view, overwriting them (at-least-once → idempotent, matching
kafka.go:98-104). Each table keeps its two newest versions per bucket,
so that view is always still on disk. Edges are bucketed by their CHILD
endpoint; buckets holding edges whose PARENT endpoint is touched are
located through ``PARENT_IDX``, an append-only (parent key → child
bucket) pointer table bucketed by parent key — so the lookup is also
O(batch), and nothing in the micro-batch path reads state proportional
to total state size. On a real deployment the versioned buckets become a
Delta/Iceberg MERGE — the seed/replay logic is unchanged, only the state
I/O swaps. All state transforms are joins/windows on entity keys; state
size is O(live entities), not O(event history).

State format: state directories written before the tables moved onto
``BucketTable`` (one root ``_meta.json``, no per-table ``_meta.json`` or
``_commits``) are not migrated — their tables resolve no committed
version, so reading them raises ValueError. Start such a deployment from
a fresh ``state_dir`` and streaming checkpoint.

Kafka wiring (untestable in this environment, no broker): see
`kafka_reader()` — the standard readStream.format("kafka") with
includeHeaders; the fixture file-stream exercises the identical
decode→seed→replay→write path.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_vulcan_assets_spark.log import get_logger
from graph_vulcan_assets_spark.plans.temporal import (
    RAW_SCHEMA,
    UNEXPIRED,
    batch_shuffle_partitions,
    decode_events,
    events_from_decoded,
    replay_from_events,
    split_tagged_state,
    tag_union_state,
    tuned_for_batch,
)
from graph_vulcan_assets_spark.sources.bucketstore import BucketTable, bucket_of, marker_ids

STATE_TABLES = ("assets", "teams", "owns", "parent_of")

# Natural key of each state table — the hash-bucketing key. parent_of is
# bucketed by its CHILD endpoint (a row must map to exactly one bucket);
# parent-side touches are located through PARENT_IDX (below).
BUCKET_KEYS: dict[str, tuple[str, ...]] = {
    "assets": ("type", "identifier"),
    "teams": ("identifier",),
    "owns": ("type", "asset_identifier"),
    "parent_of": ("child_type", "child_identifier"),
}

# Secondary index: distinct (parent key → child-side bucket) pairs, itself
# bucketed by the PARENT key (same hash as assets, so a touched asset's
# index bucket is already in the touched set). Lets a micro-batch locate
# every edge bucket reachable from a touched PARENT endpoint by reading
# O(batch) index buckets instead of key-scanning all of parent_of.
# Entries are append-only (edge rows are never deleted, only expired, so a
# pointer can never go stale) and merged per touched index bucket on write.
PARENT_IDX = "parent_idx"
BUCKET_KEYS[PARENT_IDX] = ("parent_type", "parent_identifier")

# Row identity of each table (its BucketTable key); the bucket key above
# is a prefix of it.
KEY_COLS: dict[str, tuple[str, ...]] = {
    "assets": ("type", "identifier"),
    "teams": ("identifier",),
    "owns": ("type", "asset_identifier", "team_id"),
    "parent_of": ("child_type", "child_identifier", "parent_type", "parent_identifier"),
    PARENT_IDX: ("parent_type", "parent_identifier", "child_bucket"),
}

_log = get_logger("streaming.ingest")


def kafka_reader(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    username: str | None = None,
    password: str | None = None,
) -> DataFrame:
    """Kafka source matching the reference consumer's contract.

    Reference: subscribe + poll with headers, earliest reset
    (stream/kafka/kafka.go:64-106, cmd/graph-vulcan-assets/main.go:45-49);
    SCRAM-SHA-256 over SASL_SSL when credentials are set, plaintext
    otherwise (main.go:51-56). The (partition, offset) pair maps to the
    replay's `seq` ordering key. Not exercised in tests (no broker in the
    image) — the file stream drives the same downstream pipeline.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("includeHeaders", "true")
    )
    if username and password:
        jaas = (
            "org.apache.kafka.common.security.scram.ScramLoginModule required "
            f'username="{username}" password="{password}";'
        )
        reader = (
            reader.option("kafka.security.protocol", "SASL_SSL")
            .option("kafka.sasl.mechanism", "SCRAM-SHA-256")
            .option("kafka.sasl.jaas.config", jaas)
        )
    raw = reader.load()
    return raw.select(
        (F.col("partition").cast("long") * F.lit(1 << 40) + F.col("offset")).alias("seq"),
        F.col("timestamp").alias("ts"),
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.expr(
            "transform(headers, h -> struct(h.key as key, cast(h.value as string) as value))"
        ).alias("metadata"),
    )


class TemporalGraphStream:
    """Incremental state maintenance over a stream of raw messages.

    `annotation_key` mirrors cfg.AWSAccountAnnotationKey; `fault` is a
    test hook invoked before each batch commit (raise to simulate a crash
    between processing and offset commit — kafka_test.go:136-211's
    crash/replay scenario).
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        annotation_key: str | None = None,
        fault=None,
        n_buckets: int | None = None,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.annotation_key = annotation_key
        self.fault = fault
        os.makedirs(os.path.join(state_dir, "_applied"), exist_ok=True)
        # complete any index compaction interrupted by a crash (the swap
        # protocol below is recoverable from every window)
        self._finish_index_compaction()
        # the bucket count is frozen in each table's metadata at its first
        # commit; assets commits first, so its count (once written) carries
        # to tables a crash left without metadata
        nb = n_buckets or 32
        self._tables: dict[str, BucketTable] = {}
        for t in (*STATE_TABLES, PARENT_IDX):
            self._tables[t] = self._open_table(t, os.path.join(state_dir, t), nb)
            nb = self._tables[t].n_buckets
        self.n_buckets = nb

    # ---- state I/O ------------------------------------------------------
    def _open_table(self, table: str, path: str, n_buckets: int) -> BucketTable:
        return BucketTable(
            self.spark,
            path,
            key_cols=list(KEY_COLS[table]),
            n_buckets=n_buckets,
            bucket_cols=list(BUCKET_KEYS[table]),
        )

    def _applied_batches(self) -> list[int]:
        return marker_ids(os.path.join(self.state_dir, "_applied"))

    def _acked(self) -> int | None:
        """The newest acknowledged batch id (None before the first)."""
        applied = self._applied_batches()
        return applied[-1] if applied else None

    def _read(
        self, table: str, buckets: set[int] | None = None, as_of: int | None = None
    ) -> DataFrame:
        """``table`` as of acknowledged batch ``as_of`` (default: the
        newest); with ``buckets``, ONLY those buckets are opened (the
        O(batch) read path). Versions a crashed attempt committed past
        that batch are invisible."""
        if as_of is None:
            as_of = self._acked()
        return self._tables[table].snapshot(as_of, buckets)

    def read_state(self) -> dict[str, DataFrame] | None:
        acked = self._acked()
        if acked is None:
            return None
        return {t: self._read(t, as_of=acked) for t in STATE_TABLES}

    def _index_pairs(self, parent_of: DataFrame) -> DataFrame:
        """Distinct (parent key → child bucket) pointers for edge rows."""
        return parent_of.select(
            "parent_type",
            "parent_identifier",
            bucket_of(BUCKET_KEYS["parent_of"], self.n_buckets).alias("child_bucket"),
        ).distinct()

    def _write_state(
        self, state: dict[str, DataFrame], batch_id: int, acked: int | None
    ) -> None:
        """Commit each table's (touched-bucket) content as version
        ``batch_id`` — O(touched buckets), never O(state). Buckets absent
        from this batch keep serving their prior versions untouched.
        ``acked`` is the newest acknowledged batch the content was built
        on (None for the first batch)."""
        for t in STATE_TABLES:
            self._tables[t].commit(state[t], batch_id)
        # maintain PARENT_IDX: every edge row written this batch must have
        # its (parent → child-bucket) pointer indexed. Pointers from the
        # new edge content are merged (union + distinct) with the prior
        # content of exactly the index buckets those pointers hash into —
        # bounded by the batch's edge content, never all of parent_of.
        idx = self._tables[PARENT_IDX]
        merged = self._index_pairs(state["parent_of"])
        if acked is not None:
            merged = (
                self._read(PARENT_IDX, idx._touched(merged), acked)
                .unionByName(merged)
                .distinct()
            )
        idx.commit(merged, batch_id)
        # marker written last: a crash mid-write leaves the batch
        # unacknowledged — its table versions are orphans the read side
        # ignores — and it is re-applied on restart against the previous
        # acknowledged view (at-least-once → idempotent, matching
        # kafka.go:98-104's commit-after-process)
        with open(os.path.join(self.state_dir, "_applied", str(batch_id)), "w") as f:
            f.write("ok")

    # ---- index compaction (maintenance) ---------------------------------
    def _index_staging_dir(self) -> str:
        return os.path.join(self.state_dir, PARENT_IDX + ".compact")

    def _finish_index_compaction(self) -> None:
        """Complete (or discard) a staged index swap. Crash windows:
        staging without its ``_ready`` marker is a half-written rebuild —
        discarded; staging WITH the marker is a committed rebuild whose
        swap didn't finish — the swap is redone idempotently (the marker
        travels with the renamed dir and is cleared last, so the live
        index is never left missing or partial)."""
        staging = self._index_staging_dir()
        live_dir = os.path.join(self.state_dir, PARENT_IDX)
        if os.path.exists(os.path.join(staging, "_ready")):
            shutil.rmtree(live_dir, ignore_errors=True)
            os.rename(staging, live_dir)
        elif os.path.isdir(staging):
            shutil.rmtree(staging, ignore_errors=True)
        leftover = os.path.join(live_dir, "_ready")
        if os.path.exists(leftover):
            os.remove(leftover)

    def compact_parent_index(self) -> None:
        """Bound PARENT_IDX growth: rebuild the index from LIVE edges only
        (VERDICT r3 #5). The per-batch index write is append-only (union +
        distinct), so pointers whose edges have ALL expired accumulate
        forever — on a long-lived deployment the index would grow with
        distinct (parent, child-bucket) pairs EVER seen, not currently
        live. Dropping expired-only pointers is safe because parent-side
        lookups exist solely to find edges a parent touch could mutate,
        and a parent touch can only EXPIRE live edges — edge creation and
        resurrection are child-keyed (the child bucket is already in the
        touched set), and their state write re-adds the pointer.

        Maintenance op: O(total edge state), run between micro-batches on
        whatever cadence fan-out demands — never on the per-batch path.
        The swap is staged and marker-committed: a crash at any point
        leaves either the old index fully live or the rebuild fully
        committed (recovery in __init__ finishes the swap); the live index
        is never partial.
        """
        self._finish_index_compaction()
        acked = self._acked()
        if acked is None:
            return
        live = self._read("parent_of", as_of=acked).where(
            F.col("expiration") == F.lit(UNEXPIRED).cast("timestamp")
        )
        staging = self._index_staging_dir()
        shutil.rmtree(staging, ignore_errors=True)
        # committed as the newest acknowledged batch: resolution picks it
        # now, and any later batch id supersedes its touched buckets
        # exactly as with a normal write
        self._open_table(PARENT_IDX, staging, self.n_buckets).commit(
            self._index_pairs(live), acked
        )
        with open(os.path.join(staging, "_ready"), "w") as f:
            f.write("ok")
        self._finish_index_compaction()
        _log.info("parent index compacted to live-edge pointers")

    # ---- incremental application ---------------------------------------
    def apply_batch(self, raw_batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(os.path.join(self.state_dir, "_applied", str(batch_id))):
            # replayed micro-batch after recovery: idempotent skip
            _log.info("batch %d already applied, skipping (idempotent replay)", batch_id)
            return
        # the one _applied listing of the batch: every read below resolves
        # the state as of this acknowledged batch
        acked = self._acked()

        # scale initial shuffle partitions to the micro-batch size and drop
        # AQE for small batches: the replay is many small shuffles, and
        # per-partition + per-stage fixed cost dominates tiny batches (see
        # temporal.tuned_for_batch)
        with tuned_for_batch(self.spark, raw_batch.count()):
            self._apply_batch_inner(raw_batch, batch_id, acked)

    def _touched_buckets(
        self, touched_assets: DataFrame, touched_teams: DataFrame, acked: int
    ) -> dict[str, set[int]]:
        """Bucket ids each state table must read+rewrite for this batch.

        assets/owns share the asset-key bucket function; teams use the
        team id. parent_of rows are bucketed by child endpoint, so
        child-side touches map directly; parent-side touches resolve
        through PARENT_IDX — a touched parent's index bucket is its asset
        bucket (same key, same hash), so the lookup reads O(batch) index
        buckets, and the pointed-to child buckets join the edge set. The
        collects are bounded by n_buckets — scalar-sized, like the
        batch-count the tuner already takes.
        """
        ab = self._tables["assets"]._touched(
            touched_assets.withColumnRenamed("asset_type", "type")
        )
        tb = self._tables["teams"]._touched(
            touched_teams.withColumnRenamed("team_id", "identifier")
        )
        p_keys = F.broadcast(
            touched_assets.select(
                F.col("asset_type").alias("parent_type"),
                F.col("identifier").alias("parent_identifier"),
            )
        )
        eb = ab | {
            r[0]
            for r in self._read(PARENT_IDX, ab, acked)
            .join(p_keys, ["parent_type", "parent_identifier"], "left_semi")
            .select("child_bucket")
            .distinct()
            .collect()
        }
        return {"assets": ab, "teams": tb, "owns": ab, "parent_of": eb}

    def _apply_batch_inner(
        self, raw_batch: DataFrame, batch_id: int, acked: int | None
    ) -> None:
        if self.annotation_key is not None:
            decoded = decode_events(raw_batch, self.annotation_key)
        else:
            decoded = decode_events(raw_batch)
        # cap the batch's map-side parallelism at the (batch-scaled)
        # shuffle-partition count — same rationale and no-op-at-scale
        # argument as plans.temporal.replay (narrow coalesce; we are
        # inside tuned_for_batch, so the conf is the scaled value)
        decoded = decoded.coalesce(
            int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        )
        ev = events_from_decoded(decoded)
        if acked is not None:
            # O(batch) incremental step: read ONLY the buckets this
            # micro-batch's keys hash into and seed ALL of their rows. A
            # row the batch has no event for replays from its seeds back
            # to itself, so the replay output is the complete new content
            # of those buckets; every other bucket is neither read nor
            # written.
            touched_assets, touched_teams = touched_keys(ev)
            touched_assets = touched_assets.localCheckpoint(eager=True)
            touched_teams = touched_teams.localCheckpoint(eager=True)
            buckets = self._touched_buckets(touched_assets, touched_teams, acked)
            seeds = seed_events(
                {t: self._read(t, buckets[t], acked) for t in STATE_TABLES}
            )
            ev = {k: seeds[k].unionByName(ev[k]) for k in ev}
        new_state = replay_from_events(ev)
        # fused eager local checkpoint: the four state tables materialize
        # as ONE tagged-union job (shared replay frames computed once, one
        # scheduling pass instead of four) and the lineage is cut so plans
        # don't grow across batches; the per-table writes below are cheap
        # filters over the checkpointed blocks
        tagged = tag_union_state(new_state).localCheckpoint(eager=True)
        new_state = split_tagged_state(tagged)
        if self.fault is not None:
            self.fault(batch_id)  # crash injection point (pre-commit)
        self._write_state(new_state, batch_id, acked)
        _log.info("batch %d applied and committed", batch_id)

    # ---- stream wiring --------------------------------------------------
    def run_file_stream(self, input_dir: str, checkpoint_dir: str):
        """Fixture-file source: each JSON file becomes one micro-batch."""
        raw = (
            self.spark.readStream.schema(RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(input_dir)
        )
        return (
            raw.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


def run_with_retry(
    start_stream,
    retry_seconds: float,
    max_attempts: int = 10,
) -> None:
    """Restart-on-failure loop matching the reference's outer retry
    (cmd/graph-vulcan-assets/main.go:71-91): on stream failure, wait
    `retry_seconds` and restart from the same checkpoint; a zero retry
    duration re-raises immediately (RETRY_DURATION=0 ⇒ exit on error).

    `start_stream` is a zero-arg callable returning a StreamingQuery
    (e.g. lambda: stream.run_file_stream(input_dir, ckpt)).
    """
    import time as _time

    attempts = 0
    while True:
        attempts += 1
        try:
            q = start_stream()
            q.awaitTermination()
            return
        except Exception as exc:
            if retry_seconds == 0 or attempts >= max_attempts:
                raise
            # main.go:86-90 logs the error and sleeps before restarting
            _log.error("stream failed (attempt %d): %s — retrying in %.1fs", attempts, exc, retry_seconds)
            _time.sleep(retry_seconds)


def touched_keys(ev: dict[str, DataFrame]) -> tuple[DataFrame, DataFrame]:
    """The entity keys a micro-batch can possibly affect.

    Asset keys come from refreshes (including the exploded AWSAccount
    parents) and tombstones; team ids from refresh team events and
    tombstone keys. Every downstream mutation is reachable only from
    these: owns pairs are keyed by a touched asset, the tombstone cascade
    (main.go:331-361) is one hop and expires only edges with a touched
    endpoint, and new edges are created only between two touched assets
    (child refresh + its AWSAccount annotation).
    """
    assets = (
        ev["asset_refresh"]
        .select("asset_type", "identifier")
        .unionByName(ev["tombstones"].select("asset_type", "identifier"))
        .distinct()
    )
    teams = (
        ev["team_events"]
        .select("team_id")
        .unionByName(ev["tombstones"].select("team_id"))
        .distinct()
    )
    return assets, teams


def seed_events(state: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Convert persisted state tables back into pseudo-events.

    Seeds sit at seq −2 (creation) and −1 (latest touch / expiry), below
    every real seq, so the replay reconstructs exactly the sequential
    state the tables encode:
    - asset first_seen → refresh@−2; active assets with a later last_seen
      get refresh@−1; expired assets get a FORCED expire@−1 (bypasses the
      existence guards — the guards were already checked when the expiry
      originally happened).
    - owns start_time → activate@−2 (start_time preservation,
      main.go:199-218); ended owns get a forced pair-expire@−1.
    - edges likewise; forced edge expires enter the candidate pool so a
      later real expiry correctly skips the already-expired edge
      (main.go:338,354).
    """
    assets, teams, owns, edges = (
        state["assets"],
        state["teams"],
        state["owns"],
        state["parent_of"],
    )
    unexpired = F.lit(UNEXPIRED).cast("timestamp")

    a = assets.select(
        F.col("type").alias("asset_type"),
        "identifier",
        "first_seen",
        "last_seen",
        (F.col("expiration") != unexpired).alias("expired"),
    )
    asset_refresh = a.select(
        F.lit(-2).cast("long").alias("seq"), F.col("first_seen").alias("ts"), "asset_type", "identifier"
    ).unionByName(
        a.where(~F.col("expired") & (F.col("last_seen") > F.col("first_seen"))).select(
            F.lit(-1).cast("long").alias("seq"), F.col("last_seen").alias("ts"), "asset_type", "identifier"
        )
    )
    forced_asset_expire = a.where(F.col("expired")).select(
        F.lit(-1).cast("long").alias("seq"), F.col("last_seen").alias("ts"), "asset_type", "identifier"
    )

    team_events = teams.select(
        F.lit(-2).cast("long").alias("seq"),
        F.col("identifier").alias("team_id"),
        F.col("name").alias("team_name"),
    )

    o = owns.select(
        F.col("type").alias("asset_type"),
        F.col("asset_identifier").alias("identifier"),
        "team_id",
        "start_time",
        "end_time",
    )
    pair_activate = o.select(
        F.lit(-2).cast("long").alias("seq"), F.col("start_time").alias("ts"),
        "asset_type", "identifier", "team_id",
    )
    forced_pair_expire = o.where(F.col("end_time").isNotNull()).select(
        F.lit(-1).cast("long").alias("seq"), F.col("end_time").alias("ts"),
        "asset_type", "identifier", "team_id",
    )

    e = edges.withColumn("expired", F.col("expiration") != unexpired)
    edge_cols = ["child_type", "child_identifier", "parent_type", "parent_identifier"]
    edge_activate = e.select(
        F.lit(-2).cast("long").alias("seq"), F.col("first_seen").alias("ts"), *edge_cols
    ).unionByName(
        e.where(~F.col("expired") & (F.col("last_seen") > F.col("first_seen"))).select(
            F.lit(-1).cast("long").alias("seq"), F.col("last_seen").alias("ts"), *edge_cols
        )
    )
    forced_edge_expire = e.where(F.col("expired")).select(
        F.lit(-1).cast("long").alias("seq"), F.col("expiration").alias("ts"), *edge_cols
    )

    empty_tombstones = pair_activate.limit(0)
    return {
        "asset_refresh": asset_refresh,
        "team_events": team_events,
        "pair_activate": pair_activate,
        "tombstones": empty_tombstones,
        "edge_activate": edge_activate,
        "forced_asset_expire": forced_asset_expire,
        "forced_pair_expire": forced_pair_expire,
        "forced_edge_expire": forced_edge_expire,
    }
