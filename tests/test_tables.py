"""SnapshotTable: atomic versioning, merge-on-read MERGE semantics,
compaction, time-travel reads and the delta-log view."""

from __future__ import annotations

import pytest

from pygeodatacrawler_spark.tables import SnapshotTable

SCHEMA = "k long, v string"


def _table(spark, tmp_path, compact_every=10):
    t = SnapshotTable(spark, str(tmp_path), "t", key="k")
    t.compact_every = compact_every
    t.write_snapshot(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    return t


def _state(t, version=None):
    return {r["k"]: r["v"] for r in t.read(version).collect()}


def test_merge_upsert_batch_wins(spark, tmp_path):
    t = _table(spark, tmp_path, compact_every=2)
    v2 = t.merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], SCHEMA))
    assert v2 == t.last_delta_version  # a delta, no compaction yet
    assert _state(t) == {1: "a", 2: "B", 3: "c"}  # batch wins on collision
    # the second delta reaches compact_every: a base is compacted on top
    v4 = t.merge_upsert(spark.createDataFrame([(3, "C"), (4, "d")], SCHEMA))
    assert t.last_delta_version == 3 and v4 == 4
    assert _state(t) == {1: "a", 2: "B", 3: "C", 4: "d"}
    # and a delta after the compacted base still wins over it
    t.merge_upsert(spark.createDataFrame([(1, "A")], SCHEMA))
    assert _state(t) == {1: "A", 2: "B", 3: "C", 4: "d"}


def test_time_travel_and_atomicity(spark, tmp_path):
    t = _table(spark, tmp_path)
    v2 = t.merge_upsert(spark.createDataFrame([(2, "B")], SCHEMA))
    v3 = t.merge_upsert(spark.createDataFrame([(3, "c")], SCHEMA))
    assert t.latest_version() == v3
    assert _state(t, 1) == {1: "a", 2: "b"}
    assert _state(t, v2) == {1: "a", 2: "B"}
    assert _state(t, v3) == {1: "a", 2: "B", 3: "c"}
    # rollback drops the newer delta; reads resolve the older state
    assert t.rollback(v2)
    assert t.latest_version() == v2
    assert _state(t) == {1: "a", 2: "B"}


def test_read_delta_log_excludes_bases(spark, tmp_path):
    t = _table(spark, tmp_path, compact_every=2)
    t.merge_upsert(spark.createDataFrame([(2, "B")], SCHEMA))
    t.merge_upsert(spark.createDataFrame([(3, "c")], SCHEMA))  # + compaction
    t.merge_upsert(spark.createDataFrame([(2, "X")], SCHEMA))
    got = sorted(tuple(r) for r in t.read_delta_log(SCHEMA).collect())
    # every delta row, superseded ones too; neither base's rows
    assert got == [(2, "B"), (2, "X"), (3, "c")]


def test_missing_table_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path), "nope", key="k")
    assert not t.exists()
    with pytest.raises(FileNotFoundError):
        t.read()
    with pytest.raises(FileNotFoundError):
        t.merge_upsert(spark.createDataFrame([(1, "a")], SCHEMA))
    assert not t.exists()  # the failed merge wrote nothing
