"""Dump .explain('formatted') for a set of queries() keys.

Usage: python scripts/dump_key_plans.py <checkout> <out-dir> <suffix> [key...]
Builds each key from the queries() of <checkout> (an A/B run points this
at a second copy of the repo) over $SPARK_GRAFT_SF_DIR and writes
<out-dir>/<key>_<suffix>.txt — e.g. plans/<tag>/<key>_before.txt from
the parent commit and <key>_after.txt from the change.

Each dump is normalized before it is written. Per-run noise becomes a
fixed token: expression ids (``#123``), ``plan_id=N``, the random
``mkdtemp`` suffix of every directory directly under /tmp or /dev/shm,
UUIDs in written file names, and the hex tag of a table's
``b<version>-<hex>`` data/cdc/dv dirs and ``v<version>-<hex>`` bucketed
views. The data dir itself reads ``$SPARK_GRAFT_SF_DIR``. Two checkouts
dumped with the same suffix into two out-dirs then compare with
``diff -r``, which shows only real plan changes.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

_NOISE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # tempfile.mkdtemp(prefix=p) -> <dir>/<p><8 random chars>
    (
        re.compile(r"((?:/tmp|/dev/shm)/[^/\s,\]]*?)[a-z0-9_]{8}(?=[/\s,\]]|$)"),
        r"\1XXXXXXXX",
    ),
    (
        re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
        "UUID",
    ),
    (re.compile(r"(/[bv]\d{8})-[0-9a-f]{8}(?=[/\s,\]]|$)"), r"\1-XXXXXXXX"),
]


def normalize(plan: str) -> str:
    for pat, repl in _NOISE:
        plan = pat.sub(repl, plan)
    return plan


if __name__ == "__main__":
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

    import __spark_entry__ as entrymod
    from social_media_etl_spark.session import get_spark

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
            plan = buf.getvalue().replace(os.path.abspath(sf), "$SPARK_GRAFT_SF_DIR")
            f.write(normalize(plan))
        print(k, "->", f"{out}/{k}_{suffix}.txt")
