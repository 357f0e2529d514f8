"""Custom Python DataSource (Spark 4 API) exposing BucketTable natively:

    spark.dataSource.register(BucketTableDataSource)
    spark.read.format("buckettable").option("path", p).load()

What the integration buys over ``BucketTable.read()``:

- **Partition planning**: one InputPartition per live bucket, so a read
  parallelizes across buckets like any file source — and the planner sees
  the real unit of storage.
- **Metadata-level bucket pruning**: ``option("key", <value>)`` resolves
  a point lookup to ONE bucket before any file opens. The key-to-bucket
  hash is a pure-Python reimplementation of Spark's ``xxhash64`` for a
  long (verified bit-identical against the JVM in tests/test_pyds.py),
  so driver-side Python computes exactly the bucket the JVM writer used.
  The option also injects the equality filter into every read, so a
  pruned relation can never return rows outside the requested key.

  Pruning is deliberately an explicit OPTION, not ``pushFilters``: Spark
  caches a Python data source's planned partitions per loaded DataFrame,
  so filter-driven reader state leaks between queries that reuse the
  relation — a filtered count followed by an unfiltered count on the same
  DataFrame silently returned one bucket (caught live; regression-pinned
  in tests/test_pyds.py). An option is part of the relation identity:
  deterministic for its whole lifetime.
- **Arrow-batch reads**: each partition yields pyarrow RecordBatches
  straight from the bucket's parquet files — no Python row loop.

Time travel passes through: ``option("version", N)`` reads the view as of
commit N, same resolution rule as ``BucketTable.read(version=)``.
"""

from __future__ import annotations

import json
import math
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from graph_vulcan_assets_spark.sources.bucketstore import bucket_versions, commits

# --- Spark-compatible xxhash64 of a single BIGINT (seed 42) ---------------

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxhash64_long(value: int, seed: int = 42) -> int:
    """Bit-identical to Spark's ``xxhash64(<bigint col>)`` (XXH64 of the
    8-byte value with Spark's default seed 42); returns a signed 64-bit
    int like the JVM."""
    v = value & _M
    h = (seed + _P5 + 8) & _M
    k1 = _rotl((v * _P2) & _M, 31)
    h ^= (k1 * _P1) & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of_long(value: int, n_buckets: int) -> int:
    """``pmod(xxhash64(value), n)`` — the writer's bucket assignment.
    Python's ``%`` on a negative hash already matches pmod (non-negative
    result), unlike the JVM's ``%``."""
    return xxhash64_long(value) % n_buckets


# --- metadata (no SparkSession: driver-side planning only) ---------------


def _load_meta(path: str) -> dict:
    with open(os.path.join(path, "_meta.json")) as f:
        return json.load(f)


class _BucketPartition(InputPartition):
    def __init__(self, directory: str):
        self.directory = directory


class BucketTableReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options["path"]
        self.version = int(options["version"]) if "version" in options else None
        meta = _load_meta(self.path)
        self.key_cols = list(meta["key_cols"])
        self.bucket_cols = list(meta.get("bucket_cols", self.key_cols))
        self.n_buckets = int(meta["n_buckets"])
        key_fields = {f.name: f.dataType.simpleString() for f in schema.fields}
        self.key_value: int | None = None
        if "key" in options:
            if not (
                len(self.bucket_cols) == 1
                and key_fields.get(self.bucket_cols[0]) == "bigint"
            ):
                raise ValueError(
                    "option('key') requires a single BIGINT bucket column"
                )
            self.key_value = int(options["key"])

    def partitions(self):
        versions = bucket_versions(self.path, self.version)
        if self.key_value is not None:
            keep = bucket_of_long(self.key_value, self.n_buckets)
            versions = {b: v for b, v in versions.items() if b == keep}
        return [
            _BucketPartition(os.path.join(self.path, f"batch={v}", f"bucket={b}"))
            for b, v in sorted(versions.items())
        ]

    def read(self, partition: _BucketPartition) -> Iterator:
        import pyarrow.dataset as pads
        from pyspark.sql.pandas.types import to_arrow_schema

        ds = pads.dataset(partition.directory, format="parquet")
        arrow_schema = ds.schema
        cols = [f.name for f in self.schema.fields if f.name in arrow_schema.names]
        # cast to the declared schema: files written in the INT96 era read
        # back from pyarrow as timestamp[ns], which Spark's Arrow ingest
        # rejects — the cast restores micros losslessly
        target = to_arrow_schema(
            StructType([f for f in self.schema.fields if f.name in cols])
        )
        flt = None
        if self.key_value is not None:
            import pyarrow.compute as pc  # noqa: F401  (expression import)

            flt = pads.field(self.bucket_cols[0]) == self.key_value
        for batch in ds.to_batches(columns=cols, filter=flt):
            import pyarrow as pa

            if batch.schema != target:
                batch = pa.Table.from_batches([batch]).cast(target).to_batches()
                yield from batch
            else:
                yield batch


class BucketTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "buckettable"

    def schema(self):
        meta = _load_meta(self.options["path"])
        return StructType.fromJson(json.loads(meta["schema"]))

    def reader(self, schema: StructType) -> BucketTableReader:
        return BucketTableReader(schema, dict(self.options))


# ---------------------------------------------------------------------------
# Streaming: commit-tail change feed (readStream.format("buckettable-cdf"))
# ---------------------------------------------------------------------------


def _read_bucket_dir(directory: str):
    import pyarrow.dataset as pads

    return pads.dataset(directory, format="parquet").to_table().to_pylist()


def _val_eq(a, b) -> bool:
    """NaN-aware value equality (mirrors the DataFrame-side ``changes()``
    eqNullSafe semantics, which treats NaN as equal inside nested types
    too): both-NaN compares EQUAL — at any nesting depth — so a
    NaN-bearing value column doesn't re-emit its key as a spurious
    'update' on every commit (ADVICE r3)."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_val_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_val_eq(v, b[k]) for k, v in a.items())
    return a == b


def diff_commits(path: str, key_cols: list[str], start: int | None, end: int) -> list[tuple]:
    """Row-level diff between committed views (pure driver-side Python —
    the planning-only mirror of ``BucketTable.changes``): one tuple per
    key whose value differs, ``(*key, change_type, *after_values)`` with
    None after-values on delete. Only buckets whose resolved version
    differs are opened."""
    vs = bucket_versions(path, start) if start is not None and start >= 0 else {}
    ve = bucket_versions(path, end)
    changed = {b for b in set(vs) | set(ve) if vs.get(b) != ve.get(b)}
    meta = _load_meta(path)
    schema = json.loads(meta["schema"])
    all_cols = [f["name"] for f in schema["fields"]]
    val_cols = [c for c in all_cols if c not in key_cols]
    out: list[tuple] = []
    for b in sorted(changed):
        old_rows = (
            _read_bucket_dir(os.path.join(path, f"batch={vs[b]}", f"bucket={b}"))
            if b in vs
            else []
        )
        new_rows = (
            _read_bucket_dir(os.path.join(path, f"batch={ve[b]}", f"bucket={b}"))
            if b in ve
            else []
        )
        old_by_key = {tuple(r[k] for k in key_cols): r for r in old_rows}
        new_by_key = {tuple(r[k] for k in key_cols): r for r in new_rows}
        for key in sorted(set(old_by_key) | set(new_by_key), key=repr):
            o, n = old_by_key.get(key), new_by_key.get(key)
            if o is None:
                out.append((*key, "insert", *[n[c] for c in val_cols]))
            elif n is None:
                out.append((*key, "delete", *[None for _ in val_cols]))
            elif any(not _val_eq(o[c], n[c]) for c in val_cols):
                out.append((*key, "update", *[n[c] for c in val_cols]))
    return out


class BucketTableStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.key_cols = list(_load_meta(self.path)["key_cols"])

    def initialOffset(self) -> dict:  # noqa: N802
        return {"commit": -1}

    def read(self, start: dict):
        done = commits(self.path)
        last = done[-1] if done else -1
        if last <= start["commit"]:
            return iter([]), start
        rows = diff_commits(self.path, self.key_cols, start["commit"], last)
        return iter(rows), {"commit": last}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        return iter(
            diff_commits(self.path, self.key_cols, start["commit"], end["commit"])
        )


class BucketTableChangeFeedSource(DataSource):
    """``spark.readStream.format("buckettable-cdf")``: tail a BucketTable's
    commits as a change stream — (keys, change_type, after-values), one
    micro-batch per group of new commits. Offsets are commit ids, so
    checkpoint recovery replays exactly the committed range
    (``readBetweenOffsets``); the marker-last commit protocol means a
    half-written version is never visible to the tail. Driver-side reads
    follow the SimpleDataSourceStreamReader contract — sized for change
    feeds (the touched slice), not full-table scans."""

    @classmethod
    def name(cls) -> str:
        return "buckettable-cdf"

    def schema(self):
        meta = _load_meta(self.options["path"])
        table_schema = StructType.fromJson(json.loads(meta["schema"]))
        key_cols = list(meta["key_cols"])
        from pyspark.sql.types import StringType, StructField

        # key fields in meta key_cols ORDER (not table-schema order):
        # diff_commits emits tuples as (*key_cols, change_type, *values),
        # so a table whose key_cols order differs from its column order
        # would otherwise silently transpose same-type keys (ADVICE r3)
        by_name = {f.name: f for f in table_schema.fields}
        fields = [by_name[k] for k in key_cols]
        fields.append(StructField("change_type", StringType(), False))
        fields += [
            StructField(f.name, f.dataType, True)
            for f in table_schema.fields
            if f.name not in key_cols
        ]
        return StructType(fields)

    def simpleStreamReader(self, schema: StructType):  # noqa: N802
        return BucketTableStreamReader(dict(self.options))
