"""Dump .explain('formatted') for a set of queries() keys.

Usage: python scripts/dump_key_plans.py <checkout> <out-dir> <suffix> [key...]
Builds each key from the queries() of <checkout> (an A/B run points this
at a second copy of the repo) over $SPARK_GRAFT_SF_DIR and writes
<out-dir>/<key>_<suffix>.txt — e.g. plans/<tag>/<key>_before.txt from
the parent commit and <key>_after.txt from the change.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

if len(sys.argv) < 4 or "SPARK_GRAFT_SF_DIR" not in os.environ:
    sys.exit(
        "usage: SPARK_GRAFT_SF_DIR=<data dir> python scripts/dump_key_plans.py"
        " <checkout> <out-dir> <suffix> [key...]"
    )
repo = os.path.abspath(sys.argv[1])
out = os.path.abspath(sys.argv[2])
suffix = sys.argv[3]
keys = sys.argv[4:]
sys.path.insert(0, repo)
os.chdir(repo)

import __spark_entry__ as entrymod  # noqa: E402
from social_media_etl_spark.session import get_spark  # noqa: E402

os.makedirs(out, exist_ok=True)
spark = get_spark("plan-dump")
sf = os.environ["SPARK_GRAFT_SF_DIR"]
qs = entrymod.queries()
for k in keys:
    df = qs[k](spark, sf)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(f"{out}/{k}_{suffix}.txt", "w") as f:
        f.write(buf.getvalue())
    print(k, "->", f"{out}/{k}_{suffix}.txt")
