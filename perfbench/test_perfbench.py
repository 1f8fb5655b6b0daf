"""Self-tests of the benchmark: input generator, metric record, parsers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from layertrace import LAYER_METRICS, parse_sql_metric  # noqa: E402

#: The smallest testdata scale: the generator's contract does not depend
#: on table size, and it keeps the row-multiset comparison fast.
SMALL_SOURCE = os.path.join(os.path.dirname(gen.SOURCE_DIR), "sf0.001")

NAME = re.compile(r"[A-Za-z0-9_.-]+")

needs_source = pytest.mark.skipif(
    not os.path.isdir(SMALL_SOURCE), reason="testdata not present"
)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _rows(path: str) -> Counter:
    def hashable(v):
        return tuple(v) if isinstance(v, list) else v

    return Counter(
        tuple(hashable(v) for v in row.values())
        for row in pq.read_table(path).to_pylist()
    )


@needs_source
def test_same_seed_gives_identical_bytes(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, SMALL_SOURCE)
    gen.generate(str(tmp_path / "b"), 7, SMALL_SOURCE)
    for t in gen.TABLES:
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        b = (tmp_path / "b" / f"{t}.parquet").read_bytes()
        assert a == b, t


@needs_source
def test_seeds_permute_rows_without_changing_them(tmp_path):
    gen.generate(str(tmp_path / "a"), 1, SMALL_SOURCE)
    gen.generate(str(tmp_path / "b"), 2, SMALL_SOURCE)
    for t in gen.TABLES:
        src = os.path.join(SMALL_SOURCE, f"{t}.parquet")
        a, b = str(tmp_path / "a" / f"{t}.parquet"), str(tmp_path / "b" / f"{t}.parquet")
        assert _rows(a) == _rows(b) == _rows(src), t
        if pq.read_metadata(src).num_rows > 1:
            assert pq.read_table(a) != pq.read_table(b), f"{t}: seeds gave one order"


def test_generator_covers_every_program_table():
    sys.path.insert(0, ROOT)
    from social_media_etl_spark.catalog import TABLES

    assert tuple(gen.TABLES) == tuple(TABLES)


def test_metric_names_are_well_formed():
    bench = _benchmark_json()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64 and n[0].isalnum(), n


def test_record_matches_what_the_benchmark_reports():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_METRICS
    workloads = run.load_workloads()
    assert [w["name"] for w in bench["workloads"]] == list(workloads)
    with open(os.path.join(HERE, "workloads.json")) as f:
        layers = json.load(f)["layers"]
    mapped = [m for layer in layers.values() for m in layer["metrics"]]
    assert sorted(mapped) == sorted(LAYER_METRICS)
    for layer in layers.values():
        assert set(layer["on"] + layer["flat_on"]) <= set(workloads)


def test_workload_keys_exist_and_have_oracles():
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    for name, w in run.load_workloads().items():
        assert w["keys"], name
        for k in w["keys"]:
            assert k in queries and k in oracles, (name, k)
        assert not set(w["keys"]) & set(w["trimmed"]), name
        assert set(w["trimmed"]) <= set(queries), name


@pytest.mark.parametrize(
    "text, value",
    [
        ("90 ms", 0.09),
        ("1.8 s", 1.8),
        ("2.1 m", 126.0),
        ("149.6 KiB", 149.6 * 1024),
        ("0.0 B", 0.0),
        ("total (min, med, max (stageId: taskId))\n1.9 s (0 ms, 0.4 s, 0.9 s (stage 3.0: task 12))", 1.9),
        ("total (min, med, max (stageId: taskId))\n12.0 MiB (1.0 KiB, 2.0 MiB, 5.0 MiB (stage 1.0: task 2))", 12.0 * 2**20),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_refuses_unknown_text():
    with pytest.raises(ValueError):
        parse_sql_metric("n/a")
