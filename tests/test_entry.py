"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["l_orderkey", "n_items"]


@pytest.mark.slow
def test_queries_and_oracles_aligned(spark, sf_dir):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        assert df.columns, name  # builds a plan with a real schema


def test_events_ts_matches_parquet_footer(spark, sf_dir):
    """Drift guard: the engine's loaded min/max(ts) must equal pyarrow's
    read of the same file. The driver regenerated events.parquet from
    TIMESTAMP(NANOS) to timestamp[us] between rounds 1 and 2, which
    silently compressed the timeline 1000x under the then-hardcoded
    div-1000 conversion (VERDICT r2 root cause of 6 red queries). This
    fails if catalog.load_table's footer-sniffed conversion ever drifts
    from the physical unit again."""
    import os

    import pyarrow.parquet as pq

    from social_media_etl_spark.catalog import load_table

    path = os.path.join(sf_dir, "events.parquet")
    tbl = pq.read_table(path, columns=["ts"])
    # pyarrow min/max over the raw column, normalized to epoch micros
    import pyarrow.compute as pc

    ts = tbl.column("ts")
    unit = ts.type.unit
    scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1 / 1000}[unit]
    raw_min = pc.min(ts).cast("int64").as_py()
    raw_max = pc.max(ts).cast("int64").as_py()
    exp_min = int(raw_min * scale)
    exp_max = int(raw_max * scale)

    from pyspark.sql import functions as F

    row = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.min(F.unix_micros("ts")).alias("mn"),
            F.max(F.unix_micros("ts")).alias("mx"),
        )
        .collect()[0]
    )
    assert row["mn"] == exp_min, (row["mn"], exp_min, unit)
    assert row["mx"] == exp_max, (row["mx"], exp_max, unit)


def test_nanos_parquet_fallback_path(spark, tmp_path):
    """If the driver ever regenerates events.parquet as TIMESTAMP(NANOS)
    again, parquet_ts_unit must detect it and load_table must fall back
    to the long-read + div-1000 conversion, yielding the same instants
    as a native micros read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from social_media_etl_spark.catalog import load_table, parquet_ts_unit

    base_us = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z in micros
    rows = {
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(
            [(base_us + i) * 1000 for i in range(2)], pa.timestamp("ns")
        ),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "purchase"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    sf_dir = str(tmp_path / "sfnano")
    import os

    os.makedirs(sf_dir)
    pq.write_table(
        pa.table(rows), os.path.join(sf_dir, "events.parquet"),
        version="2.6", coerce_timestamps=None,
    )
    assert parquet_ts_unit(os.path.join(sf_dir, "events.parquet"), "ts") == "ns"

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = [r["us"] for r in df.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()]
    assert got == [base_us, base_us + 1]


def test_parquet_ts_unit_cache_survives_regeneration(tmp_path):
    """The sniff cache keys on (mtime, size), so an in-place testdata
    regeneration (the exact scenario the sniff exists for) is seen
    immediately instead of serving the stale unit (ADVICE r3)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from social_media_etl_spark.catalog import parquet_ts_unit

    path = str(tmp_path / "events.parquet")
    base_us = 1_700_000_000_000_000
    pq.write_table(
        pa.table({"ts": pa.array([base_us], pa.timestamp("us"))}), path
    )
    assert parquet_ts_unit(path, "ts") == "us"
    # regenerate IN PLACE as nanos (different row count → different
    # size, so the fingerprint flips even on coarse-mtime filesystems)
    pq.write_table(
        pa.table({
            "ts": pa.array(
                [(base_us + i) * 1000 for i in range(3)], pa.timestamp("ns")
            )
        }),
        path, version="2.6", coerce_timestamps=None,
    )
    assert parquet_ts_unit(path, "ts") == "ns"


def test_streaming_nanos_fallback(spark, tmp_path):
    """ADVICE r3: the nanos fallback was only exercised on the batch
    path; drain the file-source STREAM over a synthetic nanos parquet
    dir and assert the same instants as a native micros read."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from social_media_etl_spark.streaming import ingest

    base_us = 1_700_000_000_000_000
    rows = {
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(
            [(base_us + i) * 1000 for i in range(2)], pa.timestamp("ns")
        ),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "purchase"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    sf_dir = str(tmp_path / "sfnano_stream")
    os.makedirs(sf_dir)
    pq.write_table(
        pa.table(rows), os.path.join(sf_dir, "events.parquet"),
        version="2.6", coerce_timestamps=None,
    )
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    stream = entry._stream_events(spark, sf_dir)
    assert isinstance(stream.schema["ts"].dataType, T.TimestampType)
    out = ingest.run_available_now(
        stream, str(tmp_path / "ckpt_nanos"), query_name="nanos_fallback"
    )
    got = [
        r["us"]
        for r in out.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()
    ]
    assert got == [base_us, base_us + 1]


def test_parquet_ts_unit_dir_fingerprint_covers_all_parts(tmp_path):
    """ADVICE r4: a DIRECTORY's sniff fingerprint folds in every part
    file, so regenerating a non-first part — the lexicographically
    first file untouched — invalidates the cache (observable as a
    fresh footer read) instead of serving the stale entry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from social_media_etl_spark.catalog import (
        _parquet_ts_unit_cached,
        parquet_ts_unit,
    )

    d = tmp_path / "events_dir"
    d.mkdir()
    base_us = 1_700_000_000_000_000

    def write(name: str, n: int) -> None:
        pq.write_table(
            pa.table({"ts": pa.array([base_us + i for i in range(n)],
                                     pa.timestamp("us"))}),
            str(d / name),
        )

    write("part-0.parquet", 1)
    write("part-1.parquet", 2)
    assert parquet_ts_unit(str(d), "ts") == "us"
    hits0 = _parquet_ts_unit_cached.cache_info().hits
    assert parquet_ts_unit(str(d), "ts") == "us"  # warm: cache hits
    # 2 hits per warm directory call since ADVICE r5: first AND last
    # part are both sniffed (mixed-unit detection)
    assert _parquet_ts_unit_cached.cache_info().hits == hits0 + 2

    # rewrite ONLY the second part (different size → fingerprint flips
    # even on coarse-mtime filesystems); first part byte-identical
    write("part-1.parquet", 5)
    misses0 = _parquet_ts_unit_cached.cache_info().misses
    assert parquet_ts_unit(str(d), "ts") == "us"
    assert _parquet_ts_unit_cached.cache_info().misses == misses0 + 2

    # adding a NEW part also flips the fingerprint
    write("part-2.parquet", 3)
    misses1 = _parquet_ts_unit_cached.cache_info().misses
    assert parquet_ts_unit(str(d), "ts") == "us"
    assert _parquet_ts_unit_cached.cache_info().misses == misses1 + 2


def test_parquet_ts_unit_warns_on_mixed_unit_directory(tmp_path):
    """ADVICE r5: a directory whose first and last parts disagree on
    the physical timestamp unit warns (and reports the first part's
    unit) instead of silently answering from one footer."""
    import warnings

    import pyarrow as pa
    import pyarrow.parquet as pq

    from social_media_etl_spark.catalog import parquet_ts_unit

    d = tmp_path / "mixed_dir"
    d.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([1], pa.timestamp("us"))}),
        str(d / "part-0.parquet"),
    )
    pq.write_table(
        pa.table({"ts": pa.array([1], pa.timestamp("ns"))}),
        str(d / "part-1.parquet"),
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert parquet_ts_unit(str(d), "ts") == "us"  # first part's unit
    assert any("mixed timestamp units" in str(w.message) for w in caught)


def test_formats_roundtrip_certified_equals_direct(spark, sf_dir):
    """The ORC+CSV certified roundtrip aggregate equals the same
    aggregate computed straight off the parquet original — the
    null-safe-equality certification joins are lossless pass-through
    when the formats round-trip faithfully."""
    from pyspark.sql import functions as F

    from social_media_etl_spark.catalog import load_table

    got = entrymod._formats_roundtrip(spark, sf_dir).collect()
    want = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_same_rows_gate_passes_only_an_identical_snapshot(spark):
    """``_gated(result, _same_rows_gate(base, rt, cols, tag))`` — the
    snapshot certification the gated builders share — returns
    ``result`` unchanged when ``rt`` holds exactly ``base``'s rows,
    NULL cells included, and zero rows when ``rt`` drops one row,
    duplicates one, or alters one cell."""
    schema = "id long, name string, value double"
    cols = ["id", "name", "value"]
    rows = [(1, "a", 1.5), (2, None, 2.5), (3, "c", None)]
    base = spark.createDataFrame(rows, schema)
    result = spark.createDataFrame([("x", 7), ("y", None)], "k string, n long")

    def gated(rt_rows):
        rt = spark.createDataFrame(rt_rows, schema)
        out = entrymod._gated(
            result, entrymod._same_rows_gate(base, rt, cols, "rt")
        )
        assert out.columns == result.columns
        return sorted(out.collect(), key=str)

    want = sorted(result.collect(), key=str)
    assert gated(rows) == want
    assert gated(rows[::-1]) == want
    for broken in (
        rows[:2],  # a row dropped
        rows + [rows[1]],  # a row duplicated
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)],  # NULL name set
        [(1, "a", 1.5), (2, None, 2.5), (3, "c", 3.5)],  # NULL value set
        [(1, "a", 9.5), (2, None, 2.5), (3, "c", None)],  # a value altered
    ):
        assert gated(broken) == [], broken


def test_rocksdb_graded_twin_restores_session_confs(spark, sf_dir):
    """streaming_stateful_totals_rocksdb scopes the RocksDB provider
    conf to its own drain: afterwards the session conf is back to
    whatever it was (here: unset), and its output equals the
    heap-backed twin's."""
    from social_media_etl_spark.streaming.ingest import ROCKSDB_STATE_CONF

    provider_key = next(iter(ROCKSDB_STATE_CONF))
    before = spark.conf.get(provider_key, None)
    rocks = entrymod._streaming_stateful_totals_rocksdb(spark, sf_dir).collect()
    assert spark.conf.get(provider_key, None) == before
    heap = entrymod._streaming_stateful_totals(spark, sf_dir).collect()
    assert rocks == heap


def test_bucketed_memo_invalidates_on_session_identity(spark, sf_dir):
    """The bucketed-layout guard keys on (applicationId, sf_dir)
    (VERDICT r7 nit): a stale guard left by a DIFFERENT session must
    not be trusted — the layout rebuilds and the query still answers
    correctly."""
    first = entrymod._bucketed_join_revenue(spark, sf_dir).collect()
    assert first
    # simulate a guard written by another session in the same process
    spark._smetl_bucketed_for = ("stale-app-id", sf_dir)
    second = entrymod._bucketed_join_revenue(spark, sf_dir).collect()
    assert [tuple(r) for r in first] == [tuple(r) for r in second]
    # the guard now records THIS session's identity
    assert spark._smetl_bucketed_for == (
        spark.sparkContext.applicationId,
        sf_dir,
    )
