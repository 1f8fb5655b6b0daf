"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with the hermetic environment it builds; writes
its measurements as JSON to ``--out``. Sequence:

1. set-up: import the program, start the SparkSession, run the
   session warm-up scan ``bench.py`` uses (``setup_s`` counts from the
   parent's launch time ``--t0``);
2. with ``--trace 1``: host canary;
3. first (cold) pass over the workload's keys;
4. warm passes until ``--seconds`` have been measured (at least one);
5. with ``--trace 1``: one more warm pass with the tracer installed,
   then the host canary again;
6. correctness pass: each key's collected result against its
   ``oracle_sql()`` twin on DuckDB over the same input directory.

A pass is a closed loop with one client: ``fn(spark, data_dir)``, then
a noop-sink write of the result, then the next key.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import statistics
import sys
import time
import traceback
from datetime import datetime

#: Rows in the host canary's ``spark.range`` aggregation.
CANARY_ROWS = 20_000_000


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _canary(spark) -> float:
    """A fixed aggregation that runs no program code: host drift sentinel."""
    t0 = time.perf_counter()
    spark.range(0, CANARY_ROWS, 1, os.cpu_count()).selectExpr(
        "sum(id * 7 % 13) AS s"
    ).collect()
    return time.perf_counter() - t0


def run_pass(spark, queries, keys, data_dir, failed, tracer=None) -> float:
    """Wall time of one closed-loop pass; raising keys land in ``failed``."""
    t0 = time.perf_counter()
    for k in keys:
        try:
            if tracer is None:
                _noop(queries[k](spark, data_dir))
            else:
                _traced_key(tracer, spark, queries[k], k, data_dir)
        except Exception:  # noqa: BLE001 - a failing key is a counted result
            failed.setdefault(k, traceback.format_exc(limit=3))
    return time.perf_counter() - t0


def _traced_key(tracer, spark, fn, k, data_dir) -> None:
    from social_media_etl_spark import cache

    with tracer.key(k) as acc:
        with tracer.phase("build"):
            df = fn(spark, data_dir)
        acc["cache.tracked"] += cache.tracked_count()
        with tracer.phase("exec"):
            _noop(df)


# -- correctness ---------------------------------------------------------


def canon(v) -> str:
    """Order-insensitive canonical text of one value (as
    ``scripts/check_oracle.py`` compares them)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canon_rows(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def _arrow_rows(table) -> list[tuple]:
    cols = [c.to_pylist() for c in table.columns]
    return list(zip(*cols)) if cols else []


def check_oracles(spark, queries, oracles, keys, data_dir, tables) -> dict[str, str]:
    """Problems per key: row count, column names, then values."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    problems = {}
    for k in keys:
        try:
            # Arrow on both sides: a 100k-row collect() costs seconds of pickling
            sres = queries[k](spark, data_dir).toArrow()
            ores = con.execute(oracles[k]).arrow()
            scols, srows = sres.column_names, _arrow_rows(sres)
            ocols, orows = ores.column_names, _arrow_rows(ores)
        except Exception:  # noqa: BLE001 - reported as a failed key
            problems[k] = traceback.format_exc(limit=3)
            continue
        if len(srows) != len(orows):
            problems[k] = f"rowcount spark={len(srows)} oracle={len(orows)}"
        elif sorted(scols) != sorted(ocols):
            problems[k] = f"cols spark={sorted(scols)} oracle={sorted(ocols)}"
        elif canon_rows(scols, srows) != canon_rows(ocols, orows):
            problems[k] = "values differ"
    con.close()
    return problems


# -- memory --------------------------------------------------------------


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--keys", required=True, help="comma-separated queries() keys")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-file")
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    import __spark_entry__ as entry
    from social_media_etl_spark.catalog import TABLES, load_table
    from social_media_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    _noop(load_table(spark, args.data, "events").groupBy("event_type").count())
    setup_s = time.time() - args.t0

    queries, oracles = entry.queries(), entry.oracle_sql()
    keys = args.keys.split(",")
    random.Random(args.seed).shuffle(keys)
    failed: dict[str, str] = {}
    # the canary is a per-layer metric: untraced runs skip it
    canary = [_canary(spark)] if args.trace else []

    _log(f"set-up {setup_s:.2f} s; first pass")
    first_pass_s = run_pass(spark, queries, keys, args.data, failed)
    _log(f"first pass {first_pass_s:.2f} s; warm passes")
    warm = []
    t_end = time.perf_counter() + args.seconds
    # the first warm pass still pays JIT compilation (10-30% slower than
    # later ones): with three or more passes the median leaves it out
    while not warm or time.perf_counter() < t_end:
        warm.append(run_pass(spark, queries, keys, args.data, failed))
    pass_s = statistics.median(warm)

    layers = None
    if args.trace:
        from layertrace import Tracer

        _log("traced pass")
        tracer = Tracer(spark)
        tracer.install()
        try:
            traced_s = run_pass(spark, queries, keys, args.data, failed, tracer)
        finally:
            tracer.remove()
        layers = tracer.totals()
        layers["trace.overhead_s"] = traced_s - pass_s
        canary.append(_canary(spark))
    # peaks of the program's passes, before the benchmark's own collects;
    # the JVM's (a per-layer metric) follows G1 heap sizing and spreads
    # 12-28% run to run on identical input
    jvm_rss = jvm_peak_rss_mb(spark)
    driver_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    _log("correctness pass")
    failed.update(check_oracles(spark, queries, oracles, keys, args.data, TABLES))

    result = {
        "keys": keys,
        "failed": failed,
        "warm_passes_s": warm,
        "metrics": {
            "setup_s": setup_s,
            "first_pass_s": first_pass_s,
            "pass_s": pass_s,
            "failed_ratio": len(failed) / len(keys),
            "driver_peak_rss_mb": driver_rss,
        },
    }
    if layers is not None:
        layers["host.canary_s"] = statistics.fmean(canary)
        layers["jvm_peak_rss_mb"] = jvm_rss
        result["layers"] = layers
        if args.trace_file:
            tracer.dump(args.trace_file, {"seed": args.seed, "order": keys})
            result["trace_file"] = args.trace_file
    _log("stopping")
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
