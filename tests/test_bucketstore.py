"""BucketTable: MERGE-able keyed parquet store (the no-jars Delta-sink
answer, generalized from the streaming state sink's layout)."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from graph_vulcan_assets_spark.sources.bucketstore import BucketTable


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    return BucketTable(spark, str(tmp_path / "t"), key_cols=["k"], n_buckets=8)


def test_upsert_insert_and_replace(spark, table):
    table.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(20)], ["k", "v"]))
    # replace 3 keys, insert 2 new ones
    table.upsert(
        spark.createDataFrame(
            [(1, "V1"), (2, "V2"), (3, "V3"), (100, "new"), (101, "new")], ["k", "v"]
        )
    )
    got = dict(_rows(table.read()))
    assert got[1] == "V1" and got[2] == "V2" and got[3] == "V3"
    assert got[0] == "v0" and got[19] == "v19"  # untouched keys survive
    assert got[100] == "new" and len(got) == 22


def test_delete_removes_only_named_keys(spark, table):
    table.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(10)], ["k", "v"]))
    table.delete(spark.createDataFrame([(3,), (7,)], ["k"]))
    keys = {k for k, _ in _rows(table.read())}
    assert keys == set(range(10)) - {3, 7}


def test_merge_touches_only_key_buckets(spark, table):
    """The point of the layout: a one-key upsert must leave every other
    bucket's files byte-identical (same paths, same bytes)."""
    table.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(200)], ["k", "v"]))

    def files():
        out = {}
        for p in glob.glob(os.path.join(table.path, "batch=*", "bucket=*", "*.parquet")):
            with open(p, "rb") as f:
                out[p] = f.read()
        return out

    before = files()
    assert len({p.split(os.sep)[-2] for p in before}) > 4  # several buckets
    table.upsert(spark.createDataFrame([(5, "V5")], ["k", "v"]))
    after = files()
    surviving = [p for p in before if p in after]
    assert surviving
    for p in surviving:
        assert after[p] == before[p], f"bystander bucket rewritten: {p}"
    new_buckets = {p.split(os.sep)[-2] for p in after if p not in before}
    assert len(new_buckets) == 1  # exactly the bucket k=5 hashes into


def test_time_travel_reads_previous_commit(spark, table):
    v0 = table.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    v1 = table.upsert(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]))
    assert _rows(table.read(version=v0)) == [(1, "a"), (2, "b")]
    assert _rows(table.read(version=v1)) == [(1, "a"), (2, "B"), (3, "c")]


def test_crash_before_marker_is_invisible(spark, table):
    """Snapshot isolation: versions without a commit marker don't exist to
    readers, and re-running the same commit id overwrites the orphan."""
    table.upsert(spark.createDataFrame([(1, "a")], ["k", "v"]))
    before = _rows(table.read())
    # simulate a crashed writer: version dir present, marker absent
    batch = spark.createDataFrame([(1, "CRASH")], ["k", "v"])
    (
        batch.withColumn("bucket", table._bucket_col())
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(os.path.join(table.path, "batch=99"))
    )
    assert _rows(table.read()) == before
    # a later real upsert proceeds normally
    table.upsert(spark.createDataFrame([(2, "b")], ["k", "v"]))
    assert _rows(table.read()) == [(1, "a"), (2, "b")]


def test_reopen_preserves_layout(spark, tmp_path):
    t1 = BucketTable(spark, str(tmp_path / "t"), key_cols=["k"], n_buckets=4)
    t1.upsert(spark.createDataFrame([(i, str(i)) for i in range(50)], ["k", "v"]))
    # reopen with DIFFERENT constructor args: persisted layout wins
    t2 = BucketTable(spark, str(tmp_path / "t"), key_cols=["wrong"], n_buckets=64)
    assert t2.n_buckets == 4 and t2.key_cols == ["k"]
    t2.upsert(spark.createDataFrame([(0, "zero")], ["k", "v"]))
    assert dict(_rows(t2.read()))[0] == "zero"
    assert len(_rows(t2.read())) == 50


def test_meta_written_once(spark, table):
    """The layout and schema are frozen at the first commit, so later
    commits leave ``_meta.json`` alone (an atomic rewrite would replace
    the file's inode)."""
    table.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(10)], ["k", "v"]))
    meta = os.path.join(table.path, "_meta.json")
    before = os.stat(meta)
    table.upsert(spark.createDataFrame([(1, "V1")], ["k", "v"]))
    table.delete(spark.createDataFrame([(2,)], ["k"]))
    after = os.stat(meta)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
    reopened = BucketTable(spark, table.path, key_cols=["k"])
    assert reopened.n_buckets == 8 and reopened._schema == table._schema


def test_composite_key(spark, tmp_path):
    t = BucketTable(spark, str(tmp_path / "t"), key_cols=["a", "b"], n_buckets=4)
    t.upsert(spark.createDataFrame([(1, "x", 10), (1, "y", 20)], ["a", "b", "v"]))
    t.upsert(spark.createDataFrame([(1, "x", 99)], ["a", "b", "v"]))
    got = {(r["a"], r["b"]): r["v"] for r in t.read().collect()}
    assert got == {(1, "x"): 99, (1, "y"): 20}


def test_pruning_bounds_versions_per_bucket(spark, table):
    for i in range(6):
        table.upsert(spark.createDataFrame([(1, f"v{i}")], ["k", "v"]))
    from collections import defaultdict

    per_bucket = defaultdict(list)
    for d in os.listdir(table.path):
        if d.startswith("batch="):
            for bd in os.listdir(os.path.join(table.path, d)):
                if bd.startswith("bucket="):
                    per_bucket[bd].append(d)
    for b, dirs in per_bucket.items():
        assert len(dirs) <= 2, (b, dirs)
    assert dict(_rows(table.read()))[1] == "v5"


def test_compact_collapses_versions_and_preserves_view(spark, table):
    for i in range(5):
        table.upsert(
            spark.createDataFrame([(j, f"r{i}") for j in range(i * 10, i * 10 + 20)], ["k", "v"])
        )
    before = _rows(table.read())
    v = table.compact()
    assert _rows(table.read()) == before
    # after compaction every live bucket resolves to the compaction commit
    versions = table._bucket_versions()
    assert set(versions.values()) == {v}
    # and a later upsert still works normally
    table.upsert(spark.createDataFrame([(0, "post")], ["k", "v"]))
    assert dict(_rows(table.read()))[0] == "post"


def test_bitemporal_as_of(spark, tmp_path):
    """Transaction time x business time: a late correction changes what
    the CURRENT version believes about the PAST, while the old system
    version still answers with the old belief."""
    import datetime

    from graph_vulcan_assets_spark.sources.bucketstore import (
        BucketTable,
        bitemporal_as_of,
    )

    t = BucketTable(spark, str(tmp_path / "bt"), key_cols=["k"], n_buckets=4)

    def rows(*rws):
        return spark.createDataFrame(
            list(rws), "k long, attr string, valid_from timestamp, valid_to timestamp"
        )

    d = datetime.datetime
    # v1: key 1 valid as 'a' from Jan 1, open-ended
    v1 = t.upsert(rows((1, "a", d(2024, 1, 1), None)))
    # v2 (late correction): we LEARN that 'a' actually ended Jan 10
    v2 = t.upsert(rows((1, "a", d(2024, 1, 1), d(2024, 1, 10))))

    probe = d(2024, 1, 15)
    then = bitemporal_as_of(t, v1, probe).collect()
    now = bitemporal_as_of(t, v2, probe).collect()
    assert [r.attr for r in then] == ["a"]  # on v1 we believed it was valid
    assert now == []  # current knowledge: not valid on Jan 15

    # business-time boundary: valid_to is exclusive, valid_from inclusive
    assert [r.attr for r in bitemporal_as_of(t, v2, d(2024, 1, 1)).collect()] == ["a"]
    assert bitemporal_as_of(t, v2, d(2024, 1, 10)).collect() == []


def test_merge_plan_broadcasts_batch_and_prunes_buckets(spark, table):
    """Plan guard on the MERGE surface (PLANS_r5 row store_upsert_small_touch):
    the anti-join's batch side must be BROADCAST (never a shuffle of the
    store side on key), and the store-side scan must read only the touched
    buckets — the two properties that make upsert O(touched) at any state
    size."""
    table.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(200)], ["k", "v"]))
    batch = spark.createDataFrame([(5, "V5"), (6, "V6")], ["k", "v"])

    plan = table.merge_plan(batch)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, f"store side shuffled on key:\n{plan}"

    touched = table._touched(batch)
    # the plan reads exactly the touched buckets' files, not the table
    import re as _re

    scanned = {
        int(m)
        for f in table.merge_plan(batch).inputFiles()
        for m in _re.findall(r"bucket=(\d+)", f)
    }
    assert scanned and scanned <= set(touched), (
        f"scan covers buckets {scanned}, touched set is {touched}"
    )
