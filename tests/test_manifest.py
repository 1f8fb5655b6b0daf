"""VersionedTable (operators/manifest.py) — manifest-CAS transactional
layer: snapshot isolation, time travel, commit races, vacuum."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from social_media_etl_spark.operators.manifest import (
    ConcurrentWriteError,
    VersionedTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ts long")


def test_create_read_roundtrip(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1), (2, "b", 1)])
    )
    assert t.versions() == [0]
    got = sorted(map(tuple, t.read().collect()))
    assert got == [(1, "a", 1), (2, "b", 1)]


def test_append_new_version_and_time_travel(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    v = t.append(_df(spark, [(2, "b", 2)]))
    assert v == 1 and t.versions() == [0, 1]
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
    # time travel: v0 still reads exactly the original snapshot
    assert sorted(r["k"] for r in t.read(0).collect()) == [1]


def test_upsert_latest_wins_and_history_preserved(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "old", 1), (2, "keep", 1)])
    )
    t.upsert(_df(spark, [(1, "new", 5), (3, "ins", 5)]), ["k"], ["ts"])
    head = {r["k"]: r["v"] for r in t.read().collect()}
    assert head == {1: "new", 2: "keep", 3: "ins"}
    v0 = {r["k"]: r["v"] for r in t.read(0).collect()}
    assert v0 == {1: "old", 2: "keep"}


def test_append_rebases_after_lost_cas(spark, tmp_path):
    """A competing committer takes v1 mid-append: the append must land
    at v2 with BOTH the winner's and its own rows visible."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    # competing writer commits v1 out from under us
    w2 = VersionedTable(spark, t.path)
    w2.append(_df(spark, [(2, "winner", 2)]))
    v = t.append(_df(spark, [(3, "loser-rebased", 3)]))
    assert v == 2
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]


def test_upsert_refuses_stale_merge(spark, tmp_path):
    """First-committer-wins: an upsert whose snapshot went stale must
    lose the CAS and raise instead of silently dropping the winner's
    rows. The race is reproduced exactly: the victim resolves its
    parent, the head moves, and the victim's commit then targets an
    occupied version slot."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    victim = VersionedTable(spark, t.path)
    parent = victim.head_version()          # victim snapshots at v0
    t.append(_df(spark, [(9, "moved", 2)]))  # head moves to v1
    # replay the victim's commit step against its stale parent: the
    # CAS on the occupied v1 slot must return False...
    files = victim._write_data(_df(spark, [(1, "stale", 3)]), parent + 1)
    m = {
        "version": parent + 1,
        "parent": parent,
        "op": "upsert",
        "files": files,
        "schema": "x",
    }
    assert victim._try_commit(m, parent + 1) is False
    # ...which is exactly the condition upsert() surfaces as an error
    orig = VersionedTable._try_commit
    try:
        VersionedTable._try_commit = lambda self, man, ver: False
        with pytest.raises(ConcurrentWriteError):
            victim.upsert(_df(spark, [(1, "stale", 3)]), ["k"], ["ts"])
    finally:
        VersionedTable._try_commit = orig
    # the winner's state is intact
    assert sorted(r["k"] for r in t.read().collect()) == [1, 9]


def test_readers_never_see_partial_commits(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    # a crashed writer's temp manifest must be invisible to version
    # resolution
    mdir = tmp_path / "t" / "_manifests"
    (mdir / ".tmp-deadbeef.json").write_text(json.dumps({"version": 99}))
    assert t.versions() == [0]
    assert sorted(r["k"] for r in t.read().collect()) == [1]


def test_overwrite_swaps_snapshot_atomically(spark, tmp_path):
    """K4 on the versioned layer: overwrite replaces the contents as
    one snapshot; pre-overwrite versions still time-travel."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1), (2, "b", 1)])
    )
    v = t.overwrite(_df(spark, [(9, "z", 9)]))
    assert v == 1
    assert sorted(map(tuple, t.read().collect())) == [(9, "z", 9)]
    assert sorted(r["k"] for r in t.read(0).collect()) == [1, 2]
    # schema contract matches append: drift rejected...
    with pytest.raises(ValueError, match="schema mismatch"):
        t.overwrite(spark.createDataFrame([(1, "x")], "k long, v string"))
    # ...unless the caller explicitly replaces the schema
    v2 = t.overwrite(
        spark.createDataFrame([(5, "new-shape")], "k long, name string"),
        replace_schema=True,
    )
    assert v2 == 2
    assert [f.name for f in t.read().schema.fields] == ["k", "name"]
    assert [f.name for f in t.read(1).schema.fields] == ["k", "v", "ts"]


def test_overwrite_loses_cas_race_and_raises(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    winner = VersionedTable(spark, t.path)

    # steal the CAS slot between head_version() and _try_commit by
    # patching _write_data to commit the winner first
    orig = t._write_data

    def _race(df, hint, partition_by=None, bucket_by=None):
        files = orig(df, hint, partition_by, bucket_by)
        winner.append(_df(spark, [(7, "winner", 7)]))
        return files

    t._write_data = _race
    with pytest.raises(ConcurrentWriteError, match="overwrite raced"):
        t.overwrite(_df(spark, [(2, "loser", 2)]))
    # the winner's commit is intact
    assert sorted(r["k"] for r in t.read().collect()) == [1, 7]


def test_additive_evolution_flows_through_read_changes(spark, tmp_path):
    """An incremental consumer reading across an additive-evolution
    append gets the TARGET version's schema: pre-evolution appended
    files surface NULL for the added column."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(2, "b", 2)]))
    wide = spark.createDataFrame(
        [(3, "c", 3, "x")], "k long, v string, ts long, note string"
    )
    t.append(wide)
    delta = t.read_changes(0)
    assert [f.name for f in delta.schema.fields] == ["k", "v", "ts", "note"]
    assert {r["k"]: r["note"] for r in delta.collect()} == {2: None, 3: "x"}


def test_read_changes_yields_only_appended_rows(spark, tmp_path):
    """Incremental consumption: (from, to] yields exactly the appended
    rows, resolved from file-level manifest diffs (no data rescan)."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(2, "b", 2), (3, "c", 3)]))
    t.append(_df(spark, [(4, "d", 4)]))
    assert sorted(r["k"] for r in t.read_changes(0).collect()) == [2, 3, 4]
    assert sorted(r["k"] for r in t.read_changes(0, 1).collect()) == [2, 3]
    assert sorted(r["k"] for r in t.read_changes(1, 2).collect()) == [4]
    assert t.read_changes(2, 2).count() == 0  # empty range, stable schema
    with pytest.raises(ValueError, match="newer than"):
        t.read_changes(2, 1)


def test_read_changes_refuses_rewrite_ranges(spark, tmp_path):
    """A rewrite commit (upsert/overwrite) in the range makes 'added
    rows' ill-defined at the file level — refuse rather than
    double-count rewritten rows."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(2, "b", 2)]))
    t.upsert(_df(spark, [(1, "A", 9)]), ["k"], ["ts"])
    with pytest.raises(ValueError, match="rewrite commits"):
        t.read_changes(0)
    # a range that stops before the rewrite still works
    assert sorted(r["k"] for r in t.read_changes(0, 1).collect()) == [2]


def test_vacuum_drops_only_unreferenced_data(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    t.upsert(_df(spark, [(1, "b", 2)]), ["k"], ["ts"])   # v1 rewrites
    t.upsert(_df(spark, [(1, "c", 3)]), ["k"], ["ts"])   # v2 rewrites
    removed = t.vacuum(keep_last=2, min_age_seconds=0)
    assert removed == 1  # only v0's rewrite-orphaned dir goes
    # retained versions still read
    assert t.read(2).collect()[0]["v"] == "c"
    assert t.read(1).collect()[0]["v"] == "b"


def test_vacuum_retention_window_protects_young_directories(spark, tmp_path):
    """The concurrent-writer guard (ADVICE r6): an unreferenced data
    directory younger than ``min_age_seconds`` may belong to an
    in-flight writer that wrote its files before entering the commit
    loop — vacuum must leave it alone. With the default window, the
    seconds-old orphan from a rewrite survives; with the window at 0
    (no concurrency, as the caller asserts) it is collected."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    t.upsert(_df(spark, [(1, "b", 2)]), ["k"], ["ts"])
    t.upsert(_df(spark, [(1, "c", 3)]), ["k"], ["ts"])
    # simulate the in-flight writer: data written, commit not yet done
    inflight = t._write_data(_df(spark, [(9, "z", 9)]), 99)
    assert t.vacuum(keep_last=2) == 0  # default window: everything young
    # the in-flight writer's files are intact and its commit still lands
    assert all(
        t._fs.exists(t._P(f)) for f in inflight
    ), "vacuum deleted an in-flight writer's files"
    removed = t.vacuum(keep_last=2, min_age_seconds=0)
    assert removed == 2  # v0's orphan + the (never-committed) in-flight dir
    assert t.read().collect()[0]["v"] == "c"


def test_create_twice_fails(spark, tmp_path):
    VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    with pytest.raises(IOError):
        VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(2, "b", 1)]))


def test_append_rejects_schema_drift(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    drifted = spark.createDataFrame([(2, "b")], "k long, v string")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(drifted)


def test_append_rejects_type_drift(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    drifted = spark.createDataFrame(
        [(2, "b", "not-a-long")], "k long, v string, ts string"
    )
    with pytest.raises(ValueError, match="type drift"):
        t.append(drifted)


def test_append_additive_schema_evolution(spark, tmp_path):
    """VERDICT r6 #3: an append may ADD a nullable column. The head
    reads the union schema with NULLs for pre-evolution rows; time
    travel to the pre-evolution version still reads the ORIGINAL
    narrow schema."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    wide = spark.createDataFrame(
        [(2, "b", 2, "extra")], "k long, v string, ts long, note string"
    )
    v = t.append(wide)
    assert v == 1
    head = t.read()
    assert [f.name for f in head.schema.fields] == ["k", "v", "ts", "note"]
    rows = {r["k"]: r["note"] for r in head.collect()}
    assert rows == {1: None, 2: "extra"}
    # pre-evolution snapshot: original 3-column schema, original rows
    v0 = t.read(0)
    assert [f.name for f in v0.schema.fields] == ["k", "v", "ts"]
    assert sorted(map(tuple, v0.collect())) == [(1, "a", 1)]
    # further appends must carry the evolved schema (dropping the new
    # column is non-additive drift)
    with pytest.raises(ValueError, match="drops column 'note'"):
        t.append(_df(spark, [(3, "c", 3)]))
    # and a matching wide append still works, with NULL in the new col
    wide2 = spark.createDataFrame(
        [(3, "c", 3, None)], "k long, v string, ts long, note string"
    )
    assert t.append(wide2) == 2
    assert {r["k"]: r["note"] for r in t.read().collect()} == {
        1: None, 2: "extra", 3: None,
    }


def test_string_stats_prune_files(spark, tmp_path):
    """VERDICT r6 #4: manifest stats on a STRING column prune files.
    Three single-value files (event types a/b/c); a point read on 'b'
    must open exactly one file and still return every 'b' row."""
    rows = [(i, chr(ord("a") + i % 3) * 3, i) for i in range(30)]
    df = spark.createDataFrame(rows, "k long, v string, ts long")
    clustered = df.repartitionByRange(3, "v").sortWithinPartitions("v")
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), clustered, stats_cols=["v"]
    )
    kept, total = t.pruned_file_count("v", lo="bbb", hi="bbb")
    assert total >= 3 and kept < total
    got = sorted(r["k"] for r in t.read_where("v", "bbb", "bbb").collect())
    assert got == sorted(i for i in range(30) if i % 3 == 1)
    # numeric predicate against string stats: incomparable → keep all,
    # never drop data
    kept_all, total_all = t.pruned_file_count("v", lo=1, hi=2)
    assert kept_all == total_all


def test_streaming_versioned_sink_exactly_once_on_replay(
    spark, tmp_path
):
    """Drain a 3-file stream into a VersionedTable, then replay the
    whole stream with a FRESH checkpoint: every batch's txn is already
    committed, so the table must not grow and no rows may double."""
    from social_media_etl_spark.streaming import ingest

    src = tmp_path / "src"
    _df(spark, [(i, f"r{i}", i) for i in range(30)]).repartition(
        3
    ).write.parquet(str(src))
    table = str(tmp_path / "vtab")

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema("k long, v string, ts long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        ingest.write_foreach_batch_versioned(stream, table, ckpt)

    run(str(tmp_path / "ckpt1"))
    t = VersionedTable(spark, table)
    versions_after_first = t.versions()
    rows_first = sorted(r["k"] for r in t.read().collect())
    assert rows_first == list(range(30))
    run(str(tmp_path / "ckpt2"))  # full replay, fresh checkpoint
    assert t.versions() == versions_after_first  # no new commits
    assert sorted(r["k"] for r in t.read().collect()) == rows_first


def test_read_where_prunes_files_and_matches_full_scan(spark, tmp_path):
    """Manifest-stats data skipping: a range-clustered table answers a
    narrow range query from a strict subset of files, with results
    identical to the unpruned filter."""
    df = (
        spark.range(10_000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
            F.lit(0).cast("long").alias("ts"),
        )
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, stats_cols=["k"]
    )
    kept, total = t.pruned_file_count("k", lo=100, hi=200)
    assert total == 8 and kept < total
    got = sorted(r["k"] for r in t.read_where("k", 100, 200).collect())
    assert got == list(range(100, 201))


def test_read_where_keeps_files_without_stats(spark, tmp_path):
    """Pruning must never drop data: a table created WITHOUT stats
    keeps every file for any range."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(i, "x", i) for i in range(10)])
    )
    kept, total = t.pruned_file_count("k", lo=3, hi=4)
    assert kept == total
    assert sorted(r["k"] for r in t.read_where("k", 3, 4).collect()) == [3, 4]


@pytest.mark.slow
def test_append_extends_stats_for_pruning(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(i, "a", i) for i in range(100)]).coalesce(1),
        stats_cols=["k"],
    )
    t.append(_df(spark, [(i, "b", i) for i in range(1000, 1100)]).coalesce(1))
    kept, total = t.pruned_file_count("k", lo=1000, hi=1100)
    assert total == 2 and kept == 1  # the v0 file is skipped
    got = sorted(r["k"] for r in t.read_where("k", 1000, 1004).collect())
    assert got == [1000, 1001, 1002, 1003, 1004]


def test_vacuum_rejects_zero_retention(spark, tmp_path):
    """keep_last=0 would delete the head's own data files — guarded."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    with pytest.raises(ValueError, match="keep_last"):
        t.vacuum(keep_last=0)
    assert t.read().count() == 1


def test_committed_txns_carried_forward_reads_head_only(spark, tmp_path):
    """The txn set rides every manifest (SetTransaction pattern), so
    the idempotence check is one head read — and survives upserts."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]), txn="batch-0"
    )
    t.append(_df(spark, [(2, "b", 2)]), txn="batch-1")
    t.upsert(_df(spark, [(1, "c", 9)]), ["k"], ["ts"])
    t.append(_df(spark, [(3, "d", 3)]), txn="batch-2")
    assert t.committed_txns() == {"batch-0", "batch-1", "batch-2"}
    # and the head manifest alone carries the full set
    head = t._read_manifest(t.head_version())
    assert set(head["txns"]) == {"batch-0", "batch-1", "batch-2"}


# -- row-level DELETE (copy-on-write) ---------------------------------------


def _clustered_events(spark, n=400, files=8):
    return (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("t"), (F.col("id") % 4).cast("string")).alias("v"),
            (F.col("id") % 7).alias("ts"),
        )
        .repartitionByRange(files, "k")
        .sortWithinPartitions("k")
    )


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write DELETE: files outside the predicate's range are
    carried into the new manifest BYTE-IDENTICAL (same paths), the
    head equals the anti-filter, and time travel still reads the
    pre-delete snapshot."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _clustered_events(spark),
        stats_cols=["k"],
    )
    v0_files = set(t._read_manifest(0)["files"])
    v = t.delete("k BETWEEN 100 AND 199")
    assert v == 1
    m1 = t._read_manifest(1)
    reused = set(m1["files"]) & v0_files
    assert reused, "untouched files must be carried over unrewritten"
    assert set(m1["files"]) != v0_files
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [k for k in range(400) if not (100 <= k <= 199)]
    # time travel intact
    assert sorted(r["k"] for r in t.read(0).collect()) == list(range(400))
    # stats entries only for live files
    assert set(m1["stats"]) <= set(m1["files"])


def test_delete_null_predicate_rows_are_kept(spark, tmp_path):
    """DML semantics: DELETE removes rows where the predicate is TRUE;
    FALSE and NULL rows stay."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "k long, tag string"
    )
    t = VersionedTable.create(spark, str(tmp_path / "t"), df)
    t.delete("tag = 'a'")
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3]


def test_delete_no_match_is_a_noop(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _clustered_events(spark, n=50, files=2)
    )
    v = t.delete("k > 1000000")
    assert v == 0 and t.versions() == [0]


def test_delete_all_rows_commits_empty_file_set_for_touched(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _clustered_events(spark, n=50, files=2)
    )
    v = t.delete("k >= 0")
    assert v == 1
    assert t.read().count() == 0
    assert t.read(0).count() == 50


def test_delete_refused_in_read_changes_range(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(2, "b", 2)]))
    t.delete("k = 1")
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(0)


def test_delete_commutes_with_disjoint_append_race(spark, tmp_path):
    """Delta's conflict rule (r11): a DELETE that loses the CAS to a
    BLIND APPEND whose rows provably miss the predicate REBASES onto
    the new head instead of aborting — maintenance DML must not abort
    ingest. An appended row the predicate WOULD have deleted still
    raises: the rewrite is then semantically stale."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    orig = t._try_commit

    def racing(manifest, version):
        w2 = VersionedTable(spark, t.path)
        w2.append(_df(spark, [(9, "winner", 9)]))
        t._try_commit = orig
        return orig(manifest, version)

    t._try_commit = racing
    v = t.delete("k = 1")  # k=9 misses the predicate: rebase + commit
    m = t._read_manifest(v)
    assert m["op"] == "delete" and m["parent"] == 1
    assert sorted(r["k"] for r in t.read().collect()) == [9]
    # ...but an appended MATCH is a real conflict
    t2 = VersionedTable.create(
        spark, str(tmp_path / "t2"), _df(spark, [(1, "a", 1), (5, "e", 5)])
    )
    orig2 = t2._try_commit

    def racing_match(manifest, version):
        w2 = VersionedTable(spark, t2.path)
        w2.append(_df(spark, [(1, "late-dup", 7)]))
        t2._try_commit = orig2
        return orig2(manifest, version)

    t2._try_commit = racing_match
    with pytest.raises(ConcurrentWriteError, match="match the predicate"):
        t2.delete("k = 1")
    # the winner's commit is intact; nothing half-applied
    assert sorted(r["k"] for r in t2.read().collect()) == [1, 1, 5]


def test_delete_commutes_with_disjoint_rewrite_race(spark, tmp_path):
    """File-granularity conflict rules (r11): two predicate DMLs that
    rewrote DIFFERENT files both land — the CAS loser verifies the
    winner's removed files are disjoint from its own and its added
    rows miss the predicate, then rebases. Delta's
    ConcurrentDeleteDelete fires only on a SHARED file."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(5, "e", 5), (6, "f", 6)]))  # second file
    orig = t._try_commit

    def racing(manifest, version):
        w2 = VersionedTable(spark, t.path)
        w2.delete("k = 1")  # rewrites the FIRST file only
        t._try_commit = orig
        return orig(manifest, version)

    t._try_commit = racing
    v = t.delete("k = 5")  # rewrites the SECOND file only
    assert v == 3  # create, append, winner delete, rebased delete
    assert sorted(r["k"] for r in t.read().collect()) == [6]
    m = t._read_manifest(v)
    assert m["op"] == "delete" and m["parent"] == 2


def test_delete_races_rewrite_of_shared_file_raises(spark, tmp_path):
    """Two DMLs rewriting the SAME file conflict: the loser's staged
    output was computed from a file the winner replaced."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 1), (2, "b", 2)]).coalesce(1),  # ONE file
    )
    orig = t._try_commit

    def racing(manifest, version):
        w2 = VersionedTable(spark, t.path)
        w2.delete("k = 2")  # same single file
        t._try_commit = orig
        return orig(manifest, version)

    t._try_commit = racing
    with pytest.raises(ConcurrentWriteError, match="also rewrote"):
        t.delete("k = 1")
    # winner intact, loser fully aborted
    assert sorted(r["k"] for r in t.read().collect()) == [1]


def test_cow_delete_races_vector_on_its_file_raises(spark, tmp_path):
    """A winner's deletion vector on a file the loser COW-rewrote
    conflicts: the staged rewrite (DV-as-of-base) would resurrect the
    vectored rows."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 1), (2, "b", 2)]).coalesce(1),  # ONE file
    )
    orig = t._try_commit

    def racing(manifest, version):
        w2 = VersionedTable(spark, t.path)
        w2.delete("k = 2", mode="mor")  # vector on the shared file
        t._try_commit = orig
        return orig(manifest, version)

    t._try_commit = racing
    with pytest.raises(ConcurrentWriteError, match="resurrect"):
        t.delete("k = 1")
    assert sorted(r["k"] for r in t.read().collect()) == [1]


def test_mor_delete_commutes_with_disjoint_cow_rewrite(spark, tmp_path):
    """A MoR delete's (file, position) keys survive a winner that
    rewrote OTHER files: the vector commits onto the new head and both
    effects are visible."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1), (2, "b", 2)])
    )
    t.append(_df(spark, [(5, "e", 5), (6, "f", 6)]))
    orig = t._try_commit

    def racing(manifest, version):
        w2 = VersionedTable(spark, t.path)
        w2.delete("k = 1")  # COW-rewrites the first file only
        t._try_commit = orig
        return orig(manifest, version)

    t._try_commit = racing
    v = t.delete("k = 5", mode="mor")  # vector on the second file
    assert sorted(r["k"] for r in t.read().collect()) == [2, 6]
    m = t._read_manifest(v)
    assert m["op"] == "delete" and m.get("mode") == "mor"
    # nothing inherited from the winner's pointer
    assert "cdc" not in m


def test_delete_races_upsert_raises_non_rebasable(spark, tmp_path):
    """A table-wide rewrite (upsert) in the span always invalidates a
    staged predicate DML — no file-disjointness can hold."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1), (5, "e", 5)])
    )
    orig = t._try_commit

    def racing(manifest, version):
        w2 = VersionedTable(spark, t.path)
        w2.upsert(_df(spark, [(2, "ins", 9)]), ["k"], ["ts"])
        t._try_commit = orig
        return orig(manifest, version)

    t._try_commit = racing
    with pytest.raises(ConcurrentWriteError, match="non-rebasable"):
        t.delete("k = 5")
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 5]


def test_merge_commutes_with_disjoint_delete_race(spark, tmp_path):
    """A merge whose matched files are disjoint from a winner delete's
    files rebases: the delete neither moved a match nor added a row
    the merge keys cover."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    t.append(_df(spark, [(5, "e", 5)]))
    orig = t._try_commit

    def racing(manifest, version):
        w2 = VersionedTable(spark, t.path)
        w2.delete("k = 5")  # second file; key 5 is NOT in the source
        t._try_commit = orig
        return orig(manifest, version)

    t._try_commit = racing
    src = _df(spark, [(1, "merged", 9)])
    t.merge(src, on=["k"], when_matched_update={"v": "s.v"})
    head = {r["k"]: r["v"] for r in t.read().collect()}
    assert head == {1: "merged"}


# -- partition-spec'd tables --------------------------------------------------


def test_partitioned_create_prunes_on_partition_value(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, ["click", "view", "purchase"][i % 3], float(i)) for i in range(90)],
        "k long, typ string, val double",
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, partition_by="typ"
    )
    m = t._read_manifest(0)
    assert m["partition_by"] == "typ"
    assert set(m["parts"].values()) == {"click", "view", "purchase"}
    kept, total = t.pruned_file_count("typ", "purchase", "purchase")
    assert kept < total
    got = t.read_where("typ", "purchase", "purchase")
    assert sorted(r["k"] for r in got.collect()) == [
        i for i in range(90) if i % 3 == 2
    ]
    # the partition column survives in the data files (snapshot read
    # needs no basePath reconstruction)
    assert set(t.read().columns) == {"k", "typ", "val"}
    assert t.read().count() == 90


def test_partitioned_read_combines_partition_and_stats_pruning(spark, tmp_path):
    df = (
        spark.range(300)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("typ"),
            (F.col("id") * 2).alias("val"),
        )
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, partition_by="typ", stats_cols=["k"]
    )
    part_only, total = t.pruned_file_count_all([("typ", "s1", "s1")])
    combined, _ = t.pruned_file_count_all(
        [("typ", "s1", "s1"), ("k", 0, 74)]
    )
    assert part_only < total
    assert combined < part_only  # stats pruning stacks on partition pruning
    got = t.read_where_all([("typ", "s1", "s1"), ("k", 0, 74)])
    assert sorted(r["k"] for r in got.collect()) == [
        i for i in range(75) if i % 3 == 1
    ]


@pytest.mark.slow
def test_partitioned_append_upsert_delete_inherit_spec(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i) for i in range(20)], "k long, typ string, ts long"
    )
    t = VersionedTable.create(spark, str(tmp_path / "t"), df, partition_by="typ")
    t.append(
        spark.createDataFrame(
            [(i, "c", i) for i in range(20, 30)], "k long, typ string, ts long"
        ).coalesce(1)
    )
    m1 = t._read_manifest(1)
    assert m1["partition_by"] == "typ"
    assert set(m1["parts"].values()) == {"a", "b", "c"}
    kept, total = t.pruned_file_count("typ", "c", "c")
    assert kept < total
    assert t.read_where("typ", "c", "c").count() == 10
    # delete within one partition keeps the other partitions' files
    v1_files = set(m1["files"])
    t.delete("typ = 'c' AND k >= 25")
    m2 = t._read_manifest(t.head_version())
    assert set(m2["files"]) & v1_files
    assert set(m2["parts"].values()) == {"a", "b", "c"}
    assert t.read().count() == 25
    # vacuum at partition layouts collects whole commit dirs only
    removed = t.vacuum(keep_last=1, min_age_seconds=0)
    assert removed >= 1
    assert t.read().count() == 25


def test_partitioned_null_values_always_kept(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "k long, typ string"
    )
    t = VersionedTable.create(spark, str(tmp_path / "t"), df, partition_by="typ")
    # the null-partition file records no value and must never be pruned
    kept, total = t.pruned_file_count("typ", "a", "a")
    assert kept >= 2  # the a-file plus the null file
    assert sorted(r["k"] for r in t.read_where("typ", "a", "a").collect()) == [1]
    assert t.read().count() == 3


def test_partitioned_reserved_column_and_missing_column_raise(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "k long, typ string")
    with pytest.raises(ValueError, match="not in"):
        VersionedTable.create(spark, str(tmp_path / "t1"), df, partition_by="zzz")
    df2 = df.withColumn("smetl_pt", F.lit("x"))
    with pytest.raises(ValueError, match="reserved"):
        VersionedTable.create(
            spark, str(tmp_path / "t2"), df2, partition_by="typ"
        )


# -- row-level UPDATE (copy-on-write) ----------------------------------------


def test_update_rewrites_matching_rows_only(spark, tmp_path):
    """UPDATE applies assignments to TRUE-predicate rows (evaluated
    against pre-update values), keeps FALSE/NULL rows byte-identical,
    reuses untouched files, and time travel still reads pre-update."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _clustered_events(spark), stats_cols=["k"]
    )
    v0_files = set(t._read_manifest(0)["files"])
    v = t.update("k BETWEEN 100 AND 149", {"v": "concat(v, '-upd')", "ts": "ts + 100"})
    assert v == 1
    m1 = t._read_manifest(1)
    assert set(m1["files"]) & v0_files  # untouched files byte-reused
    rows = {r["k"]: (r["v"], r["ts"]) for r in t.read().collect()}
    assert rows[120] == ("t0-upd", 120 % 7 + 100)
    assert rows[50] == ("t2", 50 % 7)  # outside predicate: unchanged
    assert len(rows) == 400  # UPDATE never changes cardinality
    v0 = {r["k"]: r["v"] for r in t.read(0).collect()}
    assert v0[120] == "t0"  # time travel pre-update
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(0)


def test_update_casts_to_column_type_and_rejects_unknown_columns(
    spark, tmp_path
):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    # integer-literal assignment to a string column arrives as string
    t.update("k = 1", {"v": "42"})
    assert t.read().collect()[0]["v"] == "42"
    assert t._read_manifest(1)["schema"] == t._read_manifest(0)["schema"]
    with pytest.raises(ValueError, match="unknown"):
        t.update("k = 1", {"nope": "1"})


def test_update_no_match_is_a_noop(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    assert t.update("k = 99", {"v": "'x'"}) == 0
    assert t.versions() == [0]


# -- OPTIMIZE (small-file compaction) ----------------------------------------


@pytest.mark.slow
def test_optimize_compacts_files_and_preserves_content(spark, tmp_path):
    """A long append chain fragments the table; optimize re-lays the
    head into few files, content-identical, with stats re-tightened
    for pruning, and old versions still time-travel."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(0, "a", 0)]).coalesce(1),
        stats_cols=["k"],
    )
    for i in range(1, 6):
        t.append(_df(spark, [(i, "a", i)]).coalesce(1))
    frag = t._read_manifest(t.head_version())
    assert len(frag["files"]) == 6
    before = sorted(map(tuple, t.read().collect()))
    v = t.optimize(target_files=1, recluster_by="k")
    m = t._read_manifest(v)
    assert m["op"] == "optimize"
    assert len(m["files"]) < len(frag["files"])
    assert sorted(map(tuple, t.read().collect())) == before
    # stats re-collected over the compacted layout
    assert set(m["stats"]) == set(m["files"])
    # pre-optimize snapshot still reads the fragmented layout
    assert len(t._read_manifest(v - 1)["files"]) == 6
    assert sorted(map(tuple, t.read(v - 1).collect())) == before
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(0)


@pytest.mark.slow
def test_optimize_preserves_partition_spec(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(40)], "k long, typ string"
    )
    t = VersionedTable.create(spark, str(tmp_path / "t"), df, partition_by="typ")
    t.append(
        spark.createDataFrame([(99, "a")], "k long, typ string").coalesce(1)
    )
    v = t.optimize(target_files=1)
    m = t._read_manifest(v)
    assert m["partition_by"] == "typ"
    assert set(m["parts"].values()) == {"a", "b"}
    kept, total = t.pruned_file_count("typ", "b", "b")
    assert kept < total
    assert t.read().count() == 41


@pytest.mark.slow
def test_delete_on_evolved_mixed_table(spark, tmp_path):
    """Copy-on-write DELETE after additive evolution: the rewrite of
    touched pre-evolution files lands under the MERGED schema (NULL
    for the added column), kept files stay narrow, and reads remain
    consistent across the mixed layout."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1), (2, "b", 2)]).coalesce(1)
    )
    wide = spark.createDataFrame(
        [(3, "c", 3, "x")], "k long, v string, ts long, note string"
    )
    t.append(wide.coalesce(1))
    t.delete("k = 1")
    rows = {r["k"]: (r["v"], r["note"]) for r in t.read().collect()}
    assert rows == {2: ("b", None), 3: ("c", "x")}
    assert [f.name for f in t.read().schema.fields] == ["k", "v", "ts", "note"]
    # time travel: both pre-delete snapshots intact
    assert sorted(r["k"] for r in t.read(1).collect()) == [1, 2, 3]
    assert [f.name for f in t.read(0).schema.fields] == ["k", "v", "ts"]


def test_read_changes_and_cdc_sync_over_partitioned_appends(spark, tmp_path):
    """File-level CDC stays exact under the partitioned layout: the
    manifest diff is partition-dir-agnostic, and the sync consumer
    replicates a partitioned source chain including the spec."""
    from social_media_etl_spark.streaming import ingest

    df = spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(10)], "k long, typ string"
    )
    t = VersionedTable.create(spark, str(tmp_path / "src"), df, partition_by="typ")
    t.append(
        spark.createDataFrame([(10, "c"), (11, "a")], "k long, typ string")
    )
    delta = t.read_changes(0)
    assert sorted(r["k"] for r in delta.collect()) == [10, 11]
    assert set(delta.columns) == {"k", "typ"}
    applied = ingest.sync_table_changes(
        spark, t.path, str(tmp_path / "dst"), app_id="p"
    )
    assert len(applied) == 2
    dst = VersionedTable(spark, str(tmp_path / "dst"))
    assert sorted(r["k"] for r in dst.read().collect()) == list(range(12))


def test_version_as_of_and_history(spark, tmp_path):
    """Timestamp time travel resolves to the highest commit at or
    before the instant (commit instant = the manifest's CAS rename
    mtime), and history() surfaces the commit log as a DataFrame."""
    import time

    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    time.sleep(0.05)
    mid_ms = int(time.time() * 1000)
    time.sleep(0.05)
    t.append(_df(spark, [(2, "b", 2)]), txn="tx-1")
    assert t.version_as_of(mid_ms) == 0
    assert t.version_as_of(int(time.time() * 1000) + 1000) == 1
    with pytest.raises(ValueError, match="no version"):
        t.version_as_of(mid_ms - 3_600_000)
    # the resolved version reads the snapshot of that instant
    assert sorted(r["k"] for r in t.read(t.version_as_of(mid_ms)).collect()) == [1]
    hist = {r["version"]: r for r in t.history().collect()}
    assert hist[0]["op"] == "create" and hist[0]["parent"] is None
    assert hist[1]["op"] == "append" and hist[1]["txn"] == "tx-1"
    assert hist[1]["n_files"] > hist[0]["n_files"] - 1
    assert hist[0]["commit_ts_ms"] <= mid_ms <= hist[1]["commit_ts_ms"]


def test_delete_with_prune_hints_narrows_find_scan(spark, tmp_path):
    """Predicate-implied prune hints let the manifest narrow the
    find-files scan before any footer opens; the result is identical
    to the unhinted delete."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _clustered_events(spark), stats_cols=["k"]
    )
    # the hint mirrors the predicate's range — the caller's contract
    v = t.delete("k BETWEEN 120 AND 170", prune=[("k", 120, 170)])
    assert v == 1
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [k for k in range(400) if not (120 <= k <= 170)]
    # an update with hints behaves the same
    t.update("k BETWEEN 0 AND 10", {"v": "'hit'"}, prune=[("k", 0, 10)])
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows[5] == "hit" and rows[300] == "t0"


@pytest.mark.slow
def test_optimize_rebases_over_concurrent_append(spark, tmp_path):
    """Compaction must never abort ingest: an append that wins the CAS
    mid-optimize is REBASED — the committed manifest holds the
    compacted files plus the winner's appended rows."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]).coalesce(1)
    )
    for i in range(2, 5):
        t.append(_df(spark, [(i, "a", i)]).coalesce(1))
    orig = t._try_commit
    fired = {"done": False}

    def racing(manifest, version):
        if not fired["done"]:
            fired["done"] = True
            w = VersionedTable(spark, t.path)
            w.append(_df(spark, [(9, "winner", 9)]).coalesce(1))
        return orig(manifest, version)

    t._try_commit = racing
    v = t.optimize(target_files=1)
    t._try_commit = orig
    m = t._read_manifest(v)
    assert m["op"] == "optimize"
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [1, 2, 3, 4, 9]  # compacted rows + the winner's row
    # fewer files than the fragmented chain + the appended one
    assert len(m["files"]) <= 2


def test_optimize_races_rewrite_and_raises(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1), (2, "b", 2)])
    )
    orig = t._try_commit
    fired = {"done": False}

    def racing(manifest, version):
        if not fired["done"]:
            fired["done"] = True
            w = VersionedTable(spark, t.path)
            w.delete("k = 1")
        return orig(manifest, version)

    t._try_commit = racing
    with pytest.raises(ConcurrentWriteError, match="rewrite"):
        t.optimize(target_files=1)
    t._try_commit = orig
    # the delete's state is intact
    assert sorted(r["k"] for r in t.read().collect()) == [2]


def test_scoped_optimize_commutes_with_disjoint_delete_race(spark, tmp_path):
    """File-granularity rules (r11): a scoped OPTIMIZE that loses its
    CAS to a delete on files OUTSIDE its scope rebases head-relative —
    the winner's rewrite carries through as kept files, its own scope
    compacts, and nothing resurrects."""
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit("x").alias("v")
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    orig = t._try_commit
    fired = {"done": False}

    def racing(manifest, version):
        if not fired["done"]:
            fired["done"] = True
            w = VersionedTable(spark, t.path)
            w.delete("k = 90", prune=[("k", 90, 90)])  # cold region
        return orig(manifest, version)

    t._try_commit = racing
    v = t.optimize(target_files=1, where=[("k", 0, 24)])  # hot region
    t._try_commit = orig
    m = t._read_manifest(v)
    assert m["op"] == "optimize" and m["parent"] == 1  # rebased on the delete
    # both effects visible: the delete applied AND the scope compacted
    assert sorted(r["k"] for r in t.read().collect()) == [
        k for k in range(100) if k != 90
    ]
    # the winner's rewritten cold file is kept; stats pruning holds
    kept, total = t.pruned_file_count("k", 0, 10)
    assert kept < total


def test_partition_pruning_numeric_column_domains(spark, tmp_path):
    """Partition values are recorded as dir STRINGS; pruning must
    compare in the bound's domain (r8 review): numeric bounds on a
    numeric partition column prune correctly ('10' vs 2 compares as
    floats), while STRING bounds on a numeric column never prune —
    lexicographic '10' < '2' would silently drop in-range files."""
    df = spark.createDataFrame(
        [(i, i % 12) for i in range(60)], "k long, month long"
    )
    t = VersionedTable.create(spark, str(tmp_path / "t"), df, partition_by="month")
    # numeric bounds: real pruning, correct result across 2..11
    kept, total = t.pruned_file_count("month", 2, 11)
    assert kept < total
    got = sorted(r["k"] for r in t.read_where("month", 2, 11).collect())
    assert got == [i for i in range(60) if 2 <= i % 12 <= 11]
    # string bounds on the numeric column: no pruning (month=10 would
    # be lexicographically outside ['2','11']), result still exact
    kept_s, _ = t.pruned_file_count("month", "2", "11")
    assert kept_s == total


def test_jpeg_encoder_rejects_fractional_dqt():
    import numpy as np

    from social_media_etl_spark.sources import jpeg

    img = np.full((8, 8, 3), 128, dtype=np.uint8)
    with pytest.raises(ValueError, match="quant_luma"):
        jpeg.encode_jpeg_baseline(img, quant_luma=np.full((8, 8), 1.5))


# -- CHECK constraints --------------------------------------------------------


def test_check_constraints_enforced_on_every_data_adding_commit(
    spark, tmp_path
):
    """Delta-style table constraints: FALSE rows refuse the commit
    (nothing becomes visible), NULL passes (SQL CHECK semantics), and
    appends/upserts/updates all enforce."""
    good = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 0.0)], "k long, val double"
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), good,
        constraints={"val_nonneg": "val >= 0"},
    )
    assert t.constraints() == {"val_nonneg": "val >= 0"}
    # violating create never initializes
    with pytest.raises(VersionedTable.ConstraintViolation, match="val_nonneg"):
        VersionedTable.create(
            spark,
            str(tmp_path / "t2"),
            spark.createDataFrame([(9, -1.0)], "k long, val double"),
            constraints={"val_nonneg": "val >= 0"},
        )
    # violating append refuses; head unchanged
    with pytest.raises(VersionedTable.ConstraintViolation, match="val_nonneg"):
        t.append(spark.createDataFrame([(4, -2.0)], "k long, val double"))
    assert t.head_version() == 0
    # clean append lands and carries the constraint forward
    t.append(spark.createDataFrame([(5, 7.0)], "k long, val double"))
    assert t.constraints() == {"val_nonneg": "val >= 0"}
    # an UPDATE whose assignment breaks the constraint refuses
    with pytest.raises(VersionedTable.ConstraintViolation, match="val_nonneg"):
        t.update("k = 1", {"val": "-5.0"})
    assert {r["k"]: r["val"] for r in t.read().collect()}[1] == 5.0
    # a compliant update is fine; delete never needs a check
    t.update("k = 1", {"val": "val + 1"})
    t.delete("k = 3")
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 5]


# -- multi-column partition specs (VERDICT r9 #3) ---------------------------


def _mp_df(spark, n=120):
    return spark.createDataFrame(
        [
            (
                i,
                f"2024-0{1 + i % 3}-01",
                ["emea", "apac"][i % 2],
                float(i),
            )
            for i in range(n)
        ],
        "k long, dt string, region string, val double",
    )


def test_multipart_create_prunes_on_both_dimensions(spark, tmp_path):
    """VERDICT r9 #3: a (date, region)-style ORDERED tuple spec — one
    leaf dir per partition tuple, the tuple recorded per-file, pruning
    on any prefix OR conjunct of the spec, stacked with stats."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _mp_df(spark),
        partition_by=["dt", "region"],
        stats_cols=["k"],
    )
    m = t._read_manifest(0)
    assert m["partition_by"] == ["dt", "region"]
    # the tuple is recorded per file, aligned to the spec order
    assert all(isinstance(v, list) and len(v) == 2 for v in m["parts"].values())
    assert {tuple(v) for v in m["parts"].values()} == {
        (f"2024-0{d}-01", r) for d in (1, 2, 3) for r in ("emea", "apac")
    }
    total = len(m["files"])
    # prefix prune: first spec column alone
    k_dt, _ = t.pruned_file_count("dt", "2024-02-01", "2024-02-01")
    assert k_dt < total
    # non-prefix prune: second spec column alone (Iceberg tuples allow it)
    k_rg, _ = t.pruned_file_count("region", "apac", "apac")
    assert k_rg < total
    # conjunct prune on BOTH dims is strictly tighter than either alone
    k_both, _ = t.pruned_file_count_all(
        [("dt", "2024-02-01", "2024-02-01"), ("region", "apac", "apac")]
    )
    assert k_both < min(k_dt, k_rg)
    got = t.read_where_all(
        [("dt", "2024-02-01", "2024-02-01"), ("region", "apac", "apac")]
    )
    assert sorted(r["k"] for r in got.collect()) == [
        i for i in range(120) if i % 3 == 1 and i % 2 == 1
    ]
    # stats pruning stacks on the tuple prune
    k_stats, _ = t.pruned_file_count_all(
        [("dt", "2024-02-01", "2024-02-01"), ("k", 0, 10)]
    )
    assert k_stats <= k_dt
    # partition columns survive in the data files
    assert t.read().count() == 120
    assert set(t.read().columns) == {"k", "dt", "region", "val"}


def test_multipart_commits_inherit_spec(spark, tmp_path):
    """Every commit op inherits the tuple spec: appended/rewritten
    files land under the same two-level layout and record tuples."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _mp_df(spark, 60),
        partition_by=["dt", "region"],
    )
    t.append(_mp_df(spark, 120).where("k >= 60"))
    m1 = t._read_manifest(1)
    assert m1["partition_by"] == ["dt", "region"]
    assert all(
        isinstance(v, list) and len(v) == 2 for v in m1["parts"].values()
    )
    assert t.read().count() == 120
    # a COW delete rewrites under the same layout
    t.delete("k >= 100")
    m2 = t._read_manifest(2)
    assert m2["partition_by"] == ["dt", "region"]
    assert t.read().count() == 100
    kept, total = t.pruned_file_count("region", "apac", "apac")
    assert kept < total
    got = t.read_where_all(
        [("dt", "2024-01-01", "2024-01-01"), ("region", "emea", "emea")]
    )
    assert sorted(r["k"] for r in got.collect()) == [
        i for i in range(100) if i % 3 == 0 and i % 2 == 0
    ]


def test_multipart_null_tuple_positions_always_kept(spark, tmp_path):
    """A NULL in any partition column records None at that tuple
    position; pruning on that column keeps the file (never data
    loss), while the other position still prunes."""
    df = spark.createDataFrame(
        [(1, "2024-01-01", "emea"), (2, None, "apac"), (3, "2024-02-01", None)],
        "k long, dt string, region string",
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, partition_by=["dt", "region"]
    )
    m = t._read_manifest(0)
    tuples = {tuple(v) for v in m["parts"].values()}
    assert ("2024-01-01", "emea") in tuples
    assert (None, "apac") in tuples
    assert ("2024-02-01", None) in tuples
    # pruning on dt keeps the NULL-dt file; row 2 must survive
    got = t.read_where("dt", "2024-01-01", "2024-12-31")
    assert sorted(r["k"] for r in got.collect()) == [1, 3]
    # row 2's file was kept by the prune (NULL position = no skip) —
    # the exact filter dropped the row, not the metadata
    kept, total = t.pruned_file_count("dt", "2024-01-01", "2024-12-31")
    assert kept >= 2
    # pruning on region alone likewise keeps the NULL-region file
    got2 = t.read_where("region", "apac", "apac")
    assert sorted(r["k"] for r in got2.collect()) == [2]


def test_multipart_reserved_and_missing_columns_raise(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", "b")], "k long, dt string, r string")
    with pytest.raises(ValueError, match="partition column"):
        VersionedTable.create(
            spark, str(tmp_path / "t1"), df, partition_by=["dt", "zzz"]
        )
    df2 = df.withColumn("smetl_pt1", F.lit("x"))
    with pytest.raises(ValueError, match="reserved"):
        VersionedTable.create(
            spark, str(tmp_path / "t2"), df2, partition_by=["dt", "r"]
        )


# -- column-mapping RENAME (VERDICT r9 #4) -----------------------------------


def test_rename_column_is_metadata_only_and_reads_through_map(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(40)],
        "k long, v string, val double",
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    files_before = t._read_manifest(0)["files"]
    t.rename_column("v", "tag")
    m = t._read_manifest(1)
    # zero data IO: the file list is IDENTICAL
    assert m["files"] == files_before
    assert m["op"] == "rename"
    assert [f.name for f in t.read().schema.fields] == ["k", "tag", "val"]
    assert sorted(r["tag"] for r in t.read().collect()) == sorted(
        f"s{i}" for i in range(40)
    )
    # the field kept its ID under the new name
    assert m["field_ids"]["tag"] == 2
    assert m["aliases"]["tag"] == ["v"]


def test_rename_stats_prune_survives_through_alias_chain(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, val double"
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    t.rename_column("k", "key")
    # pre-rename files recorded stats under 'k'; pruning on 'key' must
    # still skip files via the alias chain
    kept, total = t.pruned_file_count("key", 0, 20)
    assert kept < total
    got = t.read_where("key", 0, 20)
    assert sorted(r["key"] for r in got.collect()) == list(range(21))
    # an append AFTER the rename records stats under the new name and
    # both generations prune together
    t.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100, 200)], "key long, val double"
        )
        .repartitionByRange(2, "key")
        .sortWithinPartitions("key")
    )
    kept2, total2 = t.pruned_file_count("key", 150, 199)
    assert kept2 < total2
    assert t.read().count() == 200


def test_rename_time_travel_and_later_dml(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    t = VersionedTable.create(spark, str(tmp_path / "t"), df)
    t.rename_column("v", "tag")
    # time travel: the pre-rename snapshot reads byte-identical under
    # its own manifest — old name and all
    v0 = t.read(0)
    assert [f.name for f in v0.schema.fields] == ["k", "v"]
    assert sorted((r["k"], r["v"]) for r in v0.collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    # DML after the rename composes: COW delete rewrites through the
    # alias-resolving read, upsert full-rewrites under the new name
    t.delete("tag = 'b'")
    assert sorted(r["tag"] for r in t.read().collect()) == ["a", "c"]
    t.append(spark.createDataFrame([(4, "d")], "k long, tag string"))
    assert sorted(r["tag"] for r in t.read().collect()) == ["a", "c", "d"]
    t.upsert(
        spark.createDataFrame([(1, "A")], "k long, tag string"),
        key_cols=["k"],
        order_cols=["tag"],
    )
    assert sorted((r["k"], r["tag"]) for r in t.read().collect()) == [
        (1, "a"), (3, "c"), (4, "d"),
    ]
    # second rename chains the aliases transitively
    t.rename_column("tag", "label")
    assert sorted(r["label"] for r in t.read().collect()) == ["a", "c", "d"]
    head = t._read_pointer(t.head_version())
    assert head["aliases"]["label"] == ["v", "tag"]


def test_rename_refusals(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 1.0)], "k long, v string, val double")
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df,
        constraints={"k_pos": "k > 0"},
    )
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("zzz", "w")
    with pytest.raises(ValueError, match="collides"):
        t.rename_column("v", "val")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.rename_column("k", "key")
    # renaming BACK to a live physical name is refused too: old files
    # still carry 'v' and would feed two logical columns
    t.rename_column("v", "tag")
    with pytest.raises(ValueError, match="collides"):
        t.rename_column("val", "v")


def test_rename_partition_column_keeps_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, ["x", "y"][i % 2], float(i)) for i in range(40)],
        "k long, typ string, val double",
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, partition_by="typ"
    )
    t.rename_column("typ", "category")
    m = t._read_manifest(1)
    assert m["partition_by"] == "category"
    kept, total = t.pruned_file_count("category", "x", "x")
    assert kept < total
    got = t.read_where("category", "x", "x")
    assert sorted(r["k"] for r in got.collect()) == [
        i for i in range(40) if i % 2 == 0
    ]
    # commits after the rename lay out under the same spec
    t.append(
        spark.createDataFrame(
            [(100, "x", 1.0)], "k long, category string, val double"
        )
    )
    assert t.read().count() == 41


# -- partition-spec evolution (r10) ------------------------------------------


def test_set_partition_spec_unpartitioned_to_partitioned(spark, tmp_path):
    """The growth path every long-lived table walks: start flat, add
    partitioning later — METADATA-ONLY, no rewrite. Old files are
    never pruned (no recorded values); new commits lay out and prune
    under the new spec."""
    df = spark.createDataFrame(
        [(i, ["x", "y"][i % 2], float(i)) for i in range(40)],
        "k long, typ string, val double",
    )
    t = VersionedTable.create(spark, str(tmp_path / "t"), df)
    files_v0 = t._read_manifest(0)["files"]
    t.set_partition_spec("typ")
    m1 = t._read_manifest(1)
    assert m1["files"] == files_v0  # zero data IO
    assert m1["op"] == "set_partition_spec"
    t.append(
        spark.createDataFrame(
            [(i, ["x", "y"][i % 2], float(i)) for i in range(40, 80)],
            "k long, typ string, val double",
        )
    )
    kept, total = t.pruned_file_count("typ", "x", "x")
    assert kept < total  # the new generation's y-files skipped
    got = t.read_where("typ", "x", "x")
    assert sorted(r["k"] for r in got.collect()) == [
        i for i in range(80) if i % 2 == 0
    ]
    assert t.read().count() == 80


def test_set_partition_spec_widens_and_old_files_keep_pruning(
    spark, tmp_path
):
    """(dt) → (dt, region): files written under the OLD spec still
    prune on dt via their own recorded spec; files under the NEW spec
    prune on both; reads stay exact throughout."""
    def gen(lo, hi):
        return spark.createDataFrame(
            [
                (
                    i,
                    f"2024-0{1 + i % 2}-01",
                    "emea" if i % 3 == 0 else "apac",
                    float(i),
                )
                for i in range(lo, hi)
            ],
            "k long, dt string, region string, val double",
        )

    t = VersionedTable.create(
        spark, str(tmp_path / "t"), gen(0, 60), partition_by="dt"
    )
    t.set_partition_spec(["dt", "region"])
    t.append(gen(60, 120))
    total = len(t._read_manifest(t.head_version())["files"])
    # dt prunes BOTH generations (old via old spec, new via tuple)
    k_dt, _ = t.pruned_file_count("dt", "2024-01-01", "2024-01-01")
    assert k_dt < total
    got = t.read_where("dt", "2024-01-01", "2024-01-01")
    assert got.count() == sum(1 for i in range(120) if 1 + i % 2 == 1)
    # region prunes only the new generation; old files are kept —
    # strictly fewer than total but more than the new slice alone
    k_rg, _ = t.pruned_file_count("region", "emea", "emea")
    assert k_rg < total
    got_rg = t.read_where("region", "emea", "emea")
    assert got_rg.count() == sum(1 for i in range(120) if i % 3 == 0)
    # OPTIMIZE consolidates everything under the CURRENT spec: region
    # then prunes the whole table
    t.optimize(target_files=2)
    k_rg2, total2 = t.pruned_file_count("region", "emea", "emea")
    assert k_rg2 < total2
    assert t.read_where("region", "emea", "emea").count() == got_rg.count()
    assert t.read().count() == 120


def test_set_partition_spec_refusals_and_cdc_transparency(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    t = VersionedTable.create(spark, str(tmp_path / "t"), df)
    with pytest.raises(ValueError, match="unknown"):
        t.set_partition_spec("zzz")
    tb = VersionedTable.create(
        spark, str(tmp_path / "tb"), df, bucket_by=("k", 2)
    )
    with pytest.raises(ValueError, match="compose"):
        tb.set_partition_spec("v")
    ti = VersionedTable.create(
        spark, str(tmp_path / "ti"), df, segmented=False
    )
    with pytest.raises(ValueError, match="inline"):
        ti.set_partition_spec("v")
    # a spec change is metadata-only: read_changes spans CROSS it
    t.set_partition_spec("v")
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    got = sorted(r["k"] for r in t.read_changes(0).collect())
    assert got == [2]


# -- drop_column (r11: schema evolution v3 on the mapping layer) -----------


def test_drop_column_is_metadata_only_and_hides_the_column(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(40)],
        "k long, v string, val double",
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k", "val"],
    )
    files_before = t._read_manifest(0)["files"]
    t.drop_column("v")
    m = t._read_manifest(1)
    # zero data IO: the file list is IDENTICAL
    assert m["files"] == files_before
    assert m["op"] == "drop"
    # reads surface exactly the new schema — old footers' bytes never do
    assert [f.name for f in t.read().schema.fields] == ["k", "val"]
    assert t.read().count() == 40
    assert "v" not in m["field_ids"] and m["field_ids"] == {"k": 1, "val": 3}
    assert m["dropped_phys"] == ["v"]
    assert m["stats_cols"] == ["k", "val"]
    # time travel: the pre-drop snapshot reads byte-identical
    v0 = t.read(0)
    assert [f.name for f in v0.schema.fields] == ["k", "v", "val"]
    assert sorted(r["v"] for r in v0.collect()) == sorted(
        f"s{i}" for i in range(40)
    )


def test_drop_then_append_and_stats_prune_on_renamed_survivor(
    spark, tmp_path
):
    """The VERDICT r10 #7 'done' shape: drop, append, time-travel, and
    stats-prune on a SURVIVING renamed column — the alias chain and
    the tombstone coexist."""
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(100)],
        "k long, v string, val double",
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    t.rename_column("k", "key")  # v1
    t.drop_column("v")  # v2
    t.append(  # v3: the post-drop schema
        spark.createDataFrame(
            [(i, float(i)) for i in range(100, 200)], "key long, val double"
        )
        .repartitionByRange(2, "key")
        .sortWithinPartitions("key")
    )
    assert t.read().count() == 200
    assert [f.name for f in t.read().schema.fields] == ["key", "val"]
    # stats pruning on the renamed survivor falls through the alias
    # chain across BOTH generations of files
    kept, total = t.pruned_file_count("key", 0, 20)
    assert kept < total
    assert sorted(r["key"] for r in t.read_where("key", 0, 20).collect()) == (
        list(range(21))
    )
    # time travel before the drop still reads v
    assert "v" in t.read(1).columns
    # DML after the drop: rewritten files carry the post-drop schema
    t.delete("key < 10")
    assert t.read().count() == 190
    t.update("key = 150", {"val": "val + 1000"})
    assert (
        t.read().where("key = 150").collect()[0]["val"] == 1150.0
    )


def test_drop_column_tombstones_block_resurrecting_names(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, v string, val double"
    )
    t = VersionedTable.create(spark, str(tmp_path / "t"), df)
    t.rename_column("v", "tag")  # old files carry physical 'v'
    t.drop_column("tag")  # tombstones: tag AND v
    assert set(t._read_pointer(2)["dropped_phys"]) == {"tag", "v"}
    add = spark.createDataFrame(
        [(3, 3.0, "zz")], "k long, val double, tag string"
    )
    # re-ADDING either physical name would resurrect old bytes
    with pytest.raises(ValueError, match="physical name"):
        t.append(add)
    with pytest.raises(ValueError, match="physical name"):
        t.append(add.withColumnRenamed("tag", "v"))
    # renaming a survivor TO a tombstoned name refuses too
    with pytest.raises(ValueError, match="collides"):
        t.rename_column("val", "v")
    # a genuinely fresh name is fine
    t.append(add.withColumnRenamed("tag", "note"))
    assert t.read().count() == 3
    assert {f.name for f in t.read().schema.fields} == {"k", "val", "note"}
    # old rows NULL-fill the new column; dropped bytes stay hidden
    assert sorted(
        (r["k"], r["note"]) for r in t.read().collect()
    ) == [(1, None), (2, None), (3, "zz")]


def test_drop_column_refusals(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, v string, val double"
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df,
        partition_by="v",
        constraints={"val_pos": "val > 0"},
    )
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("zzz")
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("v")
    with pytest.raises(ValueError, match="constraint"):
        t.drop_column("val")
    b = VersionedTable.create(
        spark,
        str(tmp_path / "b"),
        df.select("k", "v"),
        bucket_by=("k", 4),
    )
    with pytest.raises(ValueError, match="bucket column"):
        b.drop_column("k")
    one = VersionedTable.create(
        spark, str(tmp_path / "one"), df.select("k")
    )
    with pytest.raises(ValueError, match="last"):
        one.drop_column("k")


def test_change_feed_and_read_changes_skip_drop_commits(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "k long, v string, val double"
        ),
    )
    t.append(
        spark.createDataFrame(
            [(3, "c", 3.0)], "k long, v string, val double"
        )
    )  # v1
    t.drop_column("v")  # v2: metadata-only
    t.append(
        spark.createDataFrame([(4, 4.0)], "k long, val double")
    )  # v3
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in t.read_change_feed(0).collect()
    )
    assert got == [(1, "insert", 3), (3, "insert", 4)]
    # read_changes: the drop moves zero files, the diff stays defined
    assert {r["k"] for r in t.read_changes(0).collect()} == {3, 4}


def test_change_feed_emits_target_schema_across_rename(spark, tmp_path):
    """A feed range crossing a RENAME emits the TARGET version's
    schema: earlier commits' rows surface under the new name via the
    alias chain — not as a duplicate old-name column (r11, found
    while wiring drop: the old projection leaked pre-rename names as
    extra columns)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "a")], "k long, v string"),
    )
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))  # v1
    t.rename_column("v", "tag")  # v2
    t.append(
        spark.createDataFrame([(3, "c")], "k long, tag string")
    )  # v3
    feed = t.read_change_feed(0)
    assert feed.columns == ["k", "tag", "_change_type", "_commit_version"]
    got = sorted(
        (r["_commit_version"], r["k"], r["tag"]) for r in feed.collect()
    )
    # the pre-rename insert's value arrives under the CURRENT name
    assert got == [(1, 2, "b"), (3, 3, "c")]


def test_update_and_mor_delete_commute_with_disjoint_append_race(
    spark, tmp_path
):
    """The r11 conflict rule covers all three predicate-scoped DMLs:
    UPDATE and MoR DELETE also rebase over blind appends whose rows
    miss the predicate, and raise when an appended row matches."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1), (2, "b", 2)])
    )
    orig = t._try_commit

    def race_with(rows):
        def racing(manifest, version):
            w2 = VersionedTable(spark, t.path)
            w2.append(_df(spark, rows))
            t._try_commit = orig
            return orig(manifest, version)

        return racing

    # UPDATE vs disjoint append: rebases, both rows visible after
    t._try_commit = race_with([(8, "w", 8)])
    v = t.update("k = 1", {"v": "'A'"})
    assert t._read_manifest(v)["parent"] == 1
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, "A"), (2, "b"), (8, "w")]
    # MoR DELETE vs disjoint append: the vector commits onto the head
    t._try_commit = race_with([(9, "x", 9)])
    v2 = t.delete("k = 2", mode="mor")
    assert t._read_manifest(v2)["parent"] == v + 1
    assert sorted(r["k"] for r in t.read().collect()) == [1, 8, 9]
    # UPDATE vs a MATCHING append: real conflict, nothing half-applied
    t._try_commit = race_with([(1, "late", 7)])
    with pytest.raises(ConcurrentWriteError, match="match the predicate"):
        t.update("k = 1", {"v": "'Z'"})
    t._try_commit = orig
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
        (1, "A"),
        (1, "late"),
        (8, "w"),
        (9, "x"),
    ]


# -- RESTORE ------------------------------------------------------------------


def test_restore_is_metadata_only_rollback(spark, tmp_path):
    """Delta RESTORE: the new head's content is byte-identical to the
    target snapshot — same FILE REFERENCES, nothing rewritten — and
    the rolled-back versions stay time-travelable."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1), (2, "b", 2)])
    )
    t.append(_df(spark, [(5, "e", 5)]))  # v1: the good state
    t.delete("k <= 2")  # v2: the bad commit
    assert sorted(r["k"] for r in t.read().collect()) == [5]
    v = t.restore(1)
    assert v == 3
    m = t._read_manifest(v)
    assert m["op"] == "restore" and m["restored_from"] == 1
    # metadata-only: the head lists EXACTLY the target's files
    assert sorted(m["files"]) == sorted(t._read_manifest(1)["files"])
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 5]
    # history preserved: the bad version still time-travels
    assert sorted(r["k"] for r in t.read(2).collect()) == [5]
    # no-op restore: head already is the head
    assert t.restore(3) == 3
    with pytest.raises(ValueError, match="no version 99"):
        t.restore(99)


def test_restore_survives_vacuum(spark, tmp_path):
    """The restore head re-references old data dirs; vacuum's liveness
    roots are the RETAINED manifests, so those dirs survive even when
    the original version fell out of retention."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1)]))
    t.overwrite(_df(spark, [(9, "z", 9)]))  # v1
    t.restore(0)  # v2: points at v0's files again
    t.vacuum(keep_last=1, min_age_seconds=0.0)  # retains only the head
    assert sorted(r["k"] for r in t.read().collect()) == [1]
    # v1's dir was swept (unreferenced), v0's survived via the restore
    with pytest.raises(Exception):
        t.read(1).collect()


def test_restore_cdf_records_exact_file_diff(spark, tmp_path):
    """On a change-data-feed table RESTORE records the row-level diff
    at file granularity: dropped files as delete preimages, re-added
    files as inserts; files common to both snapshots contribute
    nothing."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 1), (2, "b", 2)]).coalesce(1),  # ONE file A
        change_data_feed=True,
    )
    t.append(_df(spark, [(5, "e", 5)]).coalesce(1))  # v1: file B
    t.delete("k = 1")  # v2: A -> A' (k=2 remains)
    v = t.restore(1)  # v3: {A', B} -> {A, B}
    feed = [
        (r["_change_type"], r["k"])
        for r in t.read_change_feed(2, v).collect()
    ]
    # file B untouched: nothing about k=5; A' out, A back in
    assert sorted(feed) == [("delete", 2), ("insert", 1), ("insert", 2)]
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 5]
    # the full feed across delete+restore still replays to the head
    assert ("insert", 5) in {
        (r["_change_type"], r["k"]) for r in t.read_change_feed(0).collect()
    }


def test_restore_cdf_unhides_mor_deleted_rows(spark, tmp_path):
    """Rows a post-target deletion vector hid in a KEPT file come back
    as inserts: the vector is dropped by the restore, the file is not."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 1), (2, "b", 2)]).coalesce(1),
        change_data_feed=True,
    )
    t.delete("k = 1", mode="mor")  # v1: vector on the kept file
    v = t.restore(0)
    m = t._read_manifest(v)
    assert not m.get("delete_vectors")  # target had none
    feed = [
        (r["_change_type"], r["k"])
        for r in t.read_change_feed(1, v).collect()
    ]
    assert feed == [("insert", 1)]
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_restore_zero_diff_is_change_free_in_feed(spark, tmp_path):
    """Restoring to a content-identical snapshot on a CDF table writes
    no CDC and the feed treats the commit as change-free."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 1)]),
        change_data_feed=True,
    )
    t.restore(0)  # no-op: returns 0, no commit
    t.append(_df(spark, [(2, "b", 2)]))  # v1
    t.delete("k = 99")  # matches nothing: no commit either
    v = t.restore(1)  # head IS v1 -> no-op again
    assert v == 1
    # the feed over (0, head] is just the append's insert — the no-op
    # restores committed nothing at all
    assert t.read_change_feed(0).count() == 1


# -- SHALLOW CLONE ------------------------------------------------------------


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    """Delta SHALLOW CLONE: the clone's v0 references the SOURCE's
    data files (no bytes copied); divergence is independent in both
    directions."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "src"),
        _df(spark, [(1, "a", 1), (2, "b", 2)]),
        stats_cols=["k"],
    )
    t.append(_df(spark, [(5, "e", 5)]))
    c = t.clone(str(tmp_path / "dst"))
    m0 = c._read_manifest(0)
    assert m0["op"] == "create"
    assert m0["cloned_from"] == {"path": t.path, "version": 1}
    # zero-copy: every clone file IS a source file
    assert sorted(m0["files"]) == sorted(t._read_manifest(1)["files"])
    assert sorted(r["k"] for r in c.read().collect()) == [1, 2, 5]
    # divergence: clone DML doesn't touch the source...
    c.delete("k = 1")
    c.append(_df(spark, [(9, "z", 9)]))
    assert sorted(r["k"] for r in c.read().collect()) == [2, 5, 9]
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 5]
    # ...and source commits after the clone point are invisible to it
    t.append(_df(spark, [(7, "g", 7)]))
    assert sorted(r["k"] for r in c.read().collect()) == [2, 5, 9]
    # stats pruning works on the clone (segments copied 1:1)
    kept, total = c.pruned_file_count("k", 9, 9)
    assert kept < total
    # refuses to clone over an existing table
    with pytest.raises(IOError, match="already initialized"):
        t.clone(str(tmp_path / "dst"))


def test_shallow_clone_at_version_carries_dvs_and_cdf(spark, tmp_path):
    """Cloning a historical version snapshots THAT state — including
    live deletion vectors — and vacuum on the clone never sweeps
    shared source files."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "src"),
        _df(spark, [(1, "a", 1), (2, "b", 2)]).coalesce(1),
        change_data_feed=True,
    )
    t.delete("k = 1", mode="mor")  # v1: vector, file kept
    t.append(_df(spark, [(5, "e", 5)]))  # v2 (not in the clone)
    c = t.clone(str(tmp_path / "dst"), version=1)
    assert sorted(r["k"] for r in c.read().collect()) == [2]
    assert c._read_manifest(0).get("delete_vectors")
    # the CDF property carried: clone DML records CDC
    c.delete("k = 2")
    feed = [
        (r["_change_type"], r["k"]) for r in c.read_change_feed(0).collect()
    ]
    assert feed == [("delete", 2)]
    # clone vacuum sweeps only under its own data/: source reads intact
    c.vacuum(keep_last=1, min_age_seconds=0.0)
    assert sorted(r["k"] for r in t.read().collect()) == [2, 5]
    assert sorted(r["k"] for r in t.read(0).collect()) == [1, 2]


# -- BLOOM-FILTER point-lookup skipping ----------------------------------------


def test_bloom_prunes_where_range_stats_cannot(spark, tmp_path):
    """An eq lookup on a column the layout is NOT clustered by: every
    file's [min, max] spans the domain (range pruning keeps all), the
    bloom bitmap skips — and never skips the true file."""
    df = spark.range(0, 4000).selectExpr(
        "id AS k", "cast(hash(id) % 500 AS long) AS user_id"
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartition(8),  # hash layout: user_id spans every file
        bloom_cols=["user_id"],
        bloom_bits=32768,
    )
    # a value that exists: found exactly, bloom kept fewer files
    want = sorted(r["k"] for r in df.filter("user_id = 123").collect())
    got = sorted(r["k"] for r in t.read_where_eq("user_id", 123).collect())
    assert got == want and want  # non-trivial lookup
    kb, kr, tot = t.pruned_file_count_eq("user_id", 123)
    assert kb <= kr == tot == 8
    # a value that exists NOWHERE: bloom skips (range stats can't)
    kb2, kr2, _ = t.pruned_file_count_eq("user_id", 10**9)
    assert kb2 < kr2 == 8
    assert t.read_where_eq("user_id", 10**9).count() == 0
    # un-indexed column: no bitmaps, lookup still correct
    assert sorted(
        r["user_id"] for r in t.read_where_eq("k", 7).collect()
    ) == [r["user_id"] for r in df.filter("k = 7").collect()]


def test_bloom_inherited_by_commits_and_rename(spark, tmp_path):
    """Appends/deletes record bitmaps for their OWN files under the
    inherited config; a renamed column's lookups fall through the
    alias chain to pre-rename bitmaps."""
    df = spark.range(0, 1000).selectExpr(
        "id AS k", "cast(hash(id) % 100 AS long) AS user_id"
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartition(4),
        bloom_cols=["user_id"],
        bloom_bits=16384,
    )
    t.append(
        spark.range(1000, 1010)
        .selectExpr("id AS k", "cast(777777 AS long) AS user_id")
        .coalesce(1)
    )
    # the appended file has its own bitmap: a lookup for its value
    # skips the 4 create files
    kb, kr, tot = t.pruned_file_count_eq("user_id", 777777)
    assert kb == 1 and tot == 5
    assert t.read_where_eq("user_id", 777777).count() == 10
    # rename: lookups under the NEW name still use old bitmaps
    t.rename_column("user_id", "uid")
    kb2, _, _ = t.pruned_file_count_eq("uid", 777777)
    assert kb2 == 1
    assert t.read_where_eq("uid", 777777).count() == 10
    # a COW delete rewrites with fresh bitmaps; the value is gone
    t.delete("uid = 777777")
    kb3, _, _ = t.pruned_file_count_eq("uid", 777777)
    assert kb3 == 0  # definitively excluded everywhere
    assert t.read_where_eq("uid", 777777).count() == 0
    # optimize re-indexes the compacted layout
    t.optimize(target_files=2)
    some = t.read().limit(1).collect()[0]["uid"]
    assert t.read_where_eq("uid", some).count() >= 1


def test_bloom_unindexable_values_keep_files(spark, tmp_path):
    """A column holding values the hash can't index records no bitmap
    — lookups keep its files (false negatives are impossible)."""
    df = spark.createDataFrame(
        [(1, True), (2, False)], "k long, flag boolean"
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.coalesce(1),
        bloom_cols=["flag"],
    )
    kb, kr, tot = t.pruned_file_count_eq("flag", True)
    assert kb == kr == tot == 1  # kept, never skipped
    assert t.read_where_eq("flag", True).count() == 1
    # unknown bloom_cols refused at create
    with pytest.raises(ValueError, match="not in the table schema"):
        VersionedTable.create(
            spark,
            str(tmp_path / "t2"),
            df,
            bloom_cols=["nope"],
        )


# -- TRUE concurrency (no monkeypatch) ----------------------------------------


@pytest.mark.slow
def test_true_concurrent_appends_and_disjoint_dml(spark, tmp_path):
    """REAL races: threads submit appends and file-disjoint deletes
    against one table simultaneously — every writer must land through
    the CAS/rebase loop (appends always commute; the two deletes
    rewrite different files and commute with everything here), and
    the final state is exactly the deterministic set arithmetic. This
    is the no-mock twin of the injected-race tests: it exercises
    genuine interleavings of head_version/_try_commit across threads,
    the way 1000 concurrent cluster writers would."""
    from concurrent.futures import ThreadPoolExecutor

    df = spark.createDataFrame(
        [(k, f"v{k}", k) for k in range(100)], "k long, v string, ts long"
    )
    t0 = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartitionByRange(2, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )

    def appender(lo):
        w = VersionedTable(spark, t0.path)
        for i in range(2):
            rows = [(lo + i * 10 + j, "app", 1) for j in range(5)]
            w.append(_df(spark, rows).coalesce(1))

    def deleter(k):
        w = VersionedTable(spark, t0.path)
        w.delete(f"k = {k}", prune=[("k", k, k)])

    def maintainer():
        # scoped compaction over the appended region only: commutes
        # with the appends (rebases head-relative) and is disjoint
        # from both deletes' files; a scope matching zero files at
        # its base is a legitimate no-op
        w = VersionedTable(spark, t0.path)
        w.optimize(target_files=1, where=[("k", 1000, 5000)])

    with ThreadPoolExecutor(max_workers=6) as ex:
        futs = [ex.submit(appender, lo) for lo in (1000, 2000, 3000)]
        futs += [ex.submit(deleter, 5), ex.submit(deleter, 55)]
        futs.append(ex.submit(maintainer))
        for f in futs:
            f.result(timeout=300)  # raises if any writer failed

    want = set(range(100)) - {5, 55}
    for lo in (1000, 2000, 3000):
        for i in range(2):
            want |= {lo + i * 10 + j for j in range(5)}
    got = {r["k"] for r in t0.read().collect()}
    assert got == want
    # contiguous chain: 1 create + 6 appends + 2 deletes + the
    # optimize (which may legitimately no-op on an empty scope)
    ops = [t0._read_pointer(v)["op"] for v in t0.versions()]
    assert t0.versions() == list(range(len(ops)))
    assert ops.count("append") == 6 and ops.count("delete") == 2
    assert ops.count("optimize") in (0, 1) and len(ops) in (9, 10)


def test_point_delete_prune_hint_uses_bloom(spark, tmp_path):
    """A point DELETE's eq prune hint consults blooms inside
    _file_overlaps: on a hash layout (range stats useless) the
    find-scan opens only bloom-kept files, the rewrite touches only
    the true file, and verify_prune's no-false-negative audit passes —
    the GDPR delete-by-id shape at 100 TB."""
    df = spark.range(0, 2000).selectExpr(
        "id AS k", "cast(hash(id) % 200 AS long) AS user_id"
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartition(8),
        bloom_cols=["user_id"],
        bloom_bits=32768,
    )
    t.append(
        spark.range(9000, 9010)
        .selectExpr("id AS k", "cast(777777 AS long) AS user_id")
        .coalesce(1)
    )
    before = set(t._read_manifest(1)["files"])
    v = t.delete(
        "user_id = 777777",
        prune=[("user_id", 777777, 777777)],
        verify_prune=True,  # audits the bloom never false-negatives
    )
    after = set(t._read_manifest(v)["files"])
    # exactly one file (the appended one) left the snapshot
    assert len(before - after) == 1
    assert t.read_where_eq("user_id", 777777).count() == 0
    assert t.read().count() == 2000


def test_null_census_skips_files_for_is_null_scans(spark, tmp_path):
    """IS NULL scans open only files containing a NULL; IS NOT NULL
    skips all-NULL files (Iceberg's null_count/value_count census).
    Files without a census are always kept."""
    df = spark.range(0, 1000).selectExpr(
        "id AS k",
        "CASE WHEN id BETWEEN 100 AND 119 THEN NULL ELSE CAST(id AS DOUBLE) END AS val",
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        stats_cols=["k", "val"],
    )
    # only the file(s) holding k in [100,119] carry NULLs
    kept, total = t.pruned_file_count_null("val")
    assert kept < total == 8
    assert sorted(r["k"] for r in t.read_where_null("val").collect()) == list(
        range(100, 120)
    )
    # an appended ALL-NULL file: IS NOT NULL skips it entirely
    t.append(
        spark.range(5000, 5100)
        .selectExpr("id AS k", "CAST(NULL AS DOUBLE) AS val")
        .coalesce(1)
    )
    kept_nn, total2 = t.pruned_file_count_null("val", want_null=False)
    assert total2 == 9 and kept_nn == 8  # the all-NULL file skipped
    assert t.read_where_null("val", want_null=False).count() == 980
    # ...and IS NULL now includes it
    assert t.read_where_null("val").count() == 120
    # census survives a rename through the alias chain
    t.rename_column("val", "value2")
    kept2, _ = t.pruned_file_count_null("value2")
    assert kept2 == kept + 1


def test_read_where_in_batched_lookup(spark, tmp_path):
    """IN-list lookups union per-value skipping: values concentrated
    in one appended file open just that file plus bloom false
    positives, and the result is the plain isin filter."""
    df = spark.range(0, 2000).selectExpr(
        "id AS k", "cast(hash(id) % 300 AS long) AS user_id"
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartition(6),
        bloom_cols=["user_id"],
        bloom_bits=32768,
    )
    t.append(
        spark.range(9000, 9020)
        .selectExpr("id AS k", "cast(id AS long) AS user_id")
        .coalesce(1)
    )
    got = sorted(
        r["k"] for r in t.read_where_in("user_id", [9001, 9007, None]).collect()
    )
    assert got == [9001, 9007]
    # an existing scattered value unions correctly with a missing one
    want = sorted(r["k"] for r in df.filter("user_id = 42").collect())
    got2 = sorted(
        r["k"] for r in t.read_where_in("user_id", [42, 10**9]).collect()
    )
    assert got2 == want
    with pytest.raises(ValueError, match="no non-NULL values"):
        t.read_where_in("user_id", [None])


# -- type WIDENING --------------------------------------------------------------


def test_widen_column_is_metadata_only(spark, tmp_path):
    """int→long widening moves zero files: old files read up-cast via
    Spark 4's parquet promotion under the requested manifest schema,
    appends land the wide type, and time travel keeps each version's
    own type."""
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, x int")
    t = VersionedTable.create(spark, str(tmp_path / "t"), df, stats_cols=["x"])
    v0_files = t._read_manifest(0)["files"]
    v = t.widen_column("x", "long")
    m = t._read_manifest(v)
    assert m["op"] == "widen" and m["files"] == v0_files
    assert dict(t.read().dtypes)["x"] == "bigint"
    assert sorted((r["k"], r["x"]) for r in t.read().collect()) == [
        (1, 10),
        (2, 20),
    ]
    # time travel: v0 still reads int
    assert dict(t.read(0).dtypes)["x"] == "int"
    # appends land the wide type; both generations read together
    t.append(spark.createDataFrame([(3, 2**40)], "k long, x long"))
    got = sorted((r["k"], r["x"]) for r in t.read().collect())
    assert got == [(1, 10), (2, 20), (3, 2**40)]
    # stats pruning carries across the widen (float-domain bounds)
    kept, total = t.pruned_file_count("x", 2**39, 2**41)
    assert kept < total
    # idempotent: widening to the same type commits nothing
    head = t.head_version()
    assert t.widen_column("x", "bigint") == head
    assert t.head_version() == head
    # refusals: narrowing, unknown column
    with pytest.raises(ValueError, match="not a lossless widening"):
        t.widen_column("x", "int")
    with pytest.raises(ValueError, match="no column"):
        t.widen_column("nope", "long")


def test_widen_float_to_double_and_feed_skip(spark, tmp_path):
    """float→double widening; the change feed treats the widen as
    change-free and emits the wide type end to end."""
    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], "k long, y float")
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, change_data_feed=True
    )
    t.widen_column("y", "double")
    t.append(spark.createDataFrame([(3, 3.5)], "k long, y double"))
    assert dict(t.read().dtypes)["y"] == "double"
    feed = t.read_change_feed(0)
    assert dict(feed.dtypes)["y"] == "double"
    assert sorted(r["k"] for r in feed.collect()) == [3]  # widen: no rows
    # bloom carries: integral values hash identically across widths
    df2 = spark.range(0, 200).selectExpr("id AS k", "cast(id AS int) AS u")
    t2 = VersionedTable.create(
        spark,
        str(tmp_path / "t2"),
        df2.repartition(4),
        bloom_cols=["u"],
        bloom_bits=16384,
    )
    t2.widen_column("u", "bigint")
    assert t2.read_where_eq("u", 77).count() == 1
    kb, kr, _ = t2.pruned_file_count_eq("u", 10**9)
    assert kb < kr


def test_copied_files_is_a_per_commit_record(spark, tmp_path):
    """copy_into's loaded-file record describes its own commit only: a
    later metadata commit and a later MoR commit do not inherit it, and
    the idempotency check still finds it in the history."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1), (2, "b", 2)])
    )
    land = tmp_path / "landing"
    _df(spark, [(5, "e", 5)]).coalesce(1).write.parquet(str(land))
    v_copy = t.copy_into(str(land))
    assert t._read_pointer(v_copy).get("copied_files")
    v_props = t.set_properties({"owner": "etl"})
    v_mor = t.delete("k = 1", mode="mor")
    for v in (v_props, v_mor):
        assert "copied_files" not in t._read_pointer(v)
    # a second COPY INTO of the same dir is still a no-op
    assert t.copy_into(str(land)) == v_mor
    assert sorted(r["k"] for r in t.read().collect()) == [2, 5]


def _merge_src(spark):
    return _df(spark, [(1, "m", 5), (7, "i", 5)])


_REBASING_OPS = {
    "append": lambda t, spark: t.append(_df(spark, [(9, "new", 9)])),
    "delete_cow": lambda t, spark: t.delete("k = 1"),
    "delete_mor": lambda t, spark: t.delete("k = 1", mode="mor"),
    "update_cow": lambda t, spark: t.update("k = 1", {"v": "'u'"}),
    "update_mor": lambda t, spark: t.update(
        "k = 1", {"v": "'u'"}, mode="mor"
    ),
    "overwrite_where": lambda t, spark: t.overwrite_where(
        _df(spark, [(1, "r", 5)]), "k = 1"
    ),
    "merge_cow": lambda t, spark: t.merge(
        _merge_src(spark),
        ["k"],
        when_matched_update={"v": "s.v"},
        when_not_matched_insert="*",
    ),
    "merge_mor": lambda t, spark: t.merge(
        _merge_src(spark),
        ["k"],
        when_matched_update={"v": "s.v"},
        when_not_matched_insert="*",
        mode="mor",
    ),
    "optimize": lambda t, spark: t.optimize(),
}


@pytest.mark.parametrize("op", sorted(_REBASING_OPS))
def test_rebasing_commit_gives_up_after_ten_lost_cas(spark, tmp_path, op):
    """Every op that rebases on a lost race stops after 10 CAS attempts
    with ConcurrentWriteError and leaves the table exactly as it was."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1), (2, "b", 2)])
    )
    t.append(_df(spark, [(3, "c", 3)]))  # a second file to compact
    head = t.head_version()
    before = sorted(map(tuple, t.read().collect()))
    attempts = []

    def lose(manifest, version):
        attempts.append(version)
        return False

    t._try_commit = lose
    with pytest.raises(ConcurrentWriteError, match="lost 10 CAS races"):
        _REBASING_OPS[op](t, spark)
    del t._try_commit
    assert len(attempts) == 10
    assert t.head_version() == head
    assert sorted(map(tuple, t.read().collect())) == before
