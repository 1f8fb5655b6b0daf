"""Focused pins for the r16 optimization internals.

- the read-plan memo serves the SAME lazy plan for an unchanged
  (path, version), rebuilds after a new commit, and never skips the
  protocol feature gate;
- the light-committer write path produces no ``_SUCCESS`` markers in
  engine-owned directories while the manifest still lists every part
  file (the explicit-listing discovery the options rely on);
- ``_dir_has_rows`` reads emptiness from footers, stops at the first
  non-empty one, and treats a missing dir as empty.
"""

from __future__ import annotations

import os

import pytest

from social_media_etl_spark.operators import manifest as m
from social_media_etl_spark.operators.manifest import (
    UnsupportedTableFeatureError,
    VersionedTable,
)


def _frame(spark, n=6):
    return spark.range(n).selectExpr("id", "id * 2 AS v")


def test_read_plan_memo_hits_same_version_and_misses_new_commit(
    spark, tmp_path
):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _frame(spark))
    r1 = t.read()
    r2 = t.read()
    assert r1 is r2, "unchanged (path, version) must serve the memoized plan"
    t.append(_frame(spark, 3))
    r3 = t.read()
    assert r3 is not r1, "a new commit must build a new head plan"
    assert r3.count() == 9 and r1.count() == 6  # plans, never stale data


def test_read_plan_memo_does_not_bypass_feature_gate(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _frame(spark), generated={"g": "v + 1"}
    )
    t.read()  # populate the memo
    old = m.SUPPORTED_FEATURES
    m.SUPPORTED_FEATURES = frozenset(old - {"generated"})
    try:
        with pytest.raises(UnsupportedTableFeatureError, match="generated"):
            t.read()
    finally:
        m.SUPPORTED_FEATURES = old


def test_light_committer_writes_no_success_marker(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _frame(spark))
    t.append(_frame(spark, 4))
    markers = [
        os.path.join(root, n)
        for root, _d, names in os.walk(str(tmp_path / "t"))
        for n in names
        if n == "_SUCCESS"
    ]
    assert markers == []
    manifest = t._read_manifest(1)
    assert len(manifest["files"]) > 0
    assert all(os.path.exists(f) for f in manifest["files"])
    assert t.read().count() == 10


def test_light_committer_conf_gate_restores_default(spark, tmp_path):
    spark.conf.set("spark.smetl.write.lightCommitter", "false")
    try:
        t = VersionedTable.create(spark, str(tmp_path / "t"), _frame(spark))
        markers = [
            n
            for root, _d, names in os.walk(str(tmp_path / "t"))
            for n in names
            if n == "_SUCCESS"
        ]
        assert markers, "default committer writes the _SUCCESS marker"
        assert t.read().count() == 6
    finally:
        spark.conf.unset("spark.smetl.write.lightCommitter")


def test_dir_num_rows_counts_footers_and_missing_dir_is_empty(
    spark, tmp_path
):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _frame(spark, 7))
    ddir = os.path.dirname(t._read_manifest(0)["files"][0])
    assert t._dir_has_rows(ddir)
    assert not t._dir_has_rows(str(tmp_path / "nope"))


@pytest.mark.parametrize("local", [True, False], ids=["local", "pyarrow_fs"])
def test_dir_has_rows_opens_one_footer_of_many(
    spark, tmp_path, monkeypatch, local
):
    """The emptiness check stops at the first non-empty footer: a dir
    of 1,000 non-empty part files costs one footer read, on the local
    branch and on the pyarrow.fs branch remote tables take. An
    all-empty dir still reads as empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    full, empty = tmp_path / "full", tmp_path / "empty"
    full.mkdir()
    empty.mkdir()
    one = pa.table({"id": [1]})
    for i in range(1000):
        pq.write_table(one, str(full / f"part-{i:05d}.parquet"))
    for i in range(3):
        pq.write_table(one.slice(0, 0), str(empty / f"part-{i:05d}.parquet"))
    t = VersionedTable(spark, str(tmp_path / "t"))
    t._local = local
    prefix = "" if local else "file://"
    opened = []
    real = pq.ParquetFile

    def counting(source, *args, **kwargs):
        opened.append(source)
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    assert t._dir_has_rows(f"{prefix}{full}")
    assert len(opened) == 1
    assert not t._dir_has_rows(f"{prefix}{empty}")
    assert len(opened) == 4


def test_write_first_empty_rewrite_leaves_no_stray_data_dir(
    spark, tmp_path
):
    """drop_if_empty (r16): an all-rows COW delete commits an EMPTY
    file list — and the write-first guard must remove the all-empty
    data dir it wrote, so the table directory holds no orphan b* dir
    a vacuum would have to sweep."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _frame(spark))
    dirs_before = set(os.listdir(str(tmp_path / "t" / "data")))
    v = t.delete("id >= 0")
    assert v == 1
    # no NEW data files: every surviving manifest entry was already in
    # v0 (a create may leave 0-row part files; those aren't "touched")
    assert set(t._read_manifest(1)["files"]) <= set(
        t._read_manifest(0)["files"]
    )
    assert t.read().count() == 0
    assert set(os.listdir(str(tmp_path / "t" / "data"))) == dirs_before


def test_upsert_cdf_readback_matches_relational_feed(spark, tmp_path):
    """The r16 upsert read-back (CDC classification reads the WRITTEN
    snapshot instead of re-executing the window plan) must record the
    exact same typed feed."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1)], "k long, s string, o long"
        ),
        change_data_feed=True,
    )
    t.upsert(
        spark.createDataFrame(
            [(2, "B", 2), (3, "c", 1), (1, "a", 0)],
            "k long, s string, o long",
        ),
        ["k"],
        ["o"],
    )
    feed = {
        (r["k"], r["s"], r["_change_type"])
        for r in t.read_change_feed(0, 1).collect()
    }
    # k=1: incoming row LOST (older o) -> no change recorded;
    # k=2: update pre+post; k=3: insert
    assert feed == {
        (2, "b", "update_preimage"),
        (2, "B", "update_postimage"),
        (3, "c", "insert"),
    }
