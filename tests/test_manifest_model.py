"""Model-based property tests over the whole VersionedTable DML
surface: hypothesis drives RANDOM op sequences (append / delete /
UPDATE / MERGE, each copy-on-write or merge-on-read / upsert /
overwrite / OPTIMIZE / column RENAME / column DROP / RESTORE to a
random earlier version) against
both the real table and a pure-Python reference model, then asserts
the head reads equal — the shrunk counterexample is the exact op
sequence that disagrees. RESTORE's reference semantics is a recorded
per-version model snapshot (schema state included), and every final
table is also SHALLOW-CLONED and the clone re-checked, so zero-copy
branching is exercised against every reachable table shape. Sequences mix
copy-on-write with deletion vectors and metadata-only commits, so
cross-op interactions (DV'd rows surviving a later rewrite, merges
over vectored files, compaction clearing vectors, appends under a
post-drop schema) get coverage no hand-written scenario enumerates.

The second property is the r11 CDF invariant: on a
``change_data_feed=True`` table, REPLAYING ``read_change_feed(-1)``
from an empty state — inserts/postimages upsert by key, deletes
remove, preimages informational — must reconstruct the head exactly,
whatever random DML chain produced it. One invariant, the entire CDC
surface (MoR vector recovery, commit-time CDC files for COW
delete/update/merge/upsert/overwrite, metadata-only skips, the
target-schema alias projection across renames and drops)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from social_media_etl_spark.operators.manifest import VersionedTable

_SPARK = {"spark": None}


@pytest.fixture(autouse=True)
def _hold_spark(spark):
    # hypothesis regenerates examples inside one test call; the fixture
    # can't be re-entered per example, so stash the session
    _SPARK["spark"] = spark
    yield


def _df(rows, vname="v", has_extra=True):
    schema = f"k long, {vname} string, amt double"
    if has_extra:
        schema += ", extra double"
    return _SPARK["spark"].createDataFrame(rows, schema)


# one op = (kind, modulus, remainder); ranges kept tiny so predicates
# genuinely overlap across ops
_OP = st.tuples(
    st.sampled_from(
        [
            "append", "delete_cow", "delete_mor", "update", "update_mor",
            "merge", "merge_mor", "upsert", "overwrite", "optimize",
            "rename", "drop", "restore",
        ]
    ),
    st.integers(min_value=2, max_value=5),
    st.integers(min_value=0, max_value=4),
)


def _apply_model(model, next_k, op, vname, has_extra):
    """The reference semantics, on a dict k -> (v, amt, extra).
    Returns (next_k, vname, has_extra) — a rename only moves the
    column NAME, a drop only hides the extra column (values in the
    model stay; reads compare the visible columns)."""
    kind, m, r = op
    r = r % m
    if kind == "rename":
        return next_k, f"{vname}x", has_extra
    if kind == "drop":
        return next_k, vname, False
    if kind == "append":
        for i in range(3):
            k = next_k + i
            model[k] = (f"a{k}", float(k), float(k) * 2)
        return next_k + 3, vname, has_extra
    if kind in ("delete_cow", "delete_mor"):
        for k in [k for k in model if k % m == r]:
            del model[k]
        return next_k, vname, has_extra
    if kind in ("update", "update_mor"):
        for k in list(model):
            if k % m == r:
                v, amt, ex = model[k]
                model[k] = (v.upper(), amt + 10.0, ex)
        return next_k, vname, has_extra
    if kind in ("merge", "merge_mor"):
        # source: matched ks take s.amt (doubled); one new k inserts;
        # matched ks where amt would exceed 900 delete instead. Even
        # remainders also carry a BY-SOURCE clause: unmatched rows
        # with amt > 950 delete (the r11 clause family in the model)
        src = {
            k: (f"m{k}", amt * 2, ex)
            for k, (v, amt, ex) in model.items()
            if k % m == r
        }
        src[next_k] = (f"i{next_k}", 7.0, 1.5)
        if r % 2 == 0:
            for k in [
                k
                for k, (v, amt, ex) in model.items()
                if k not in src and amt is not None and amt > 950.0
            ]:
                del model[k]
        for k, (v, amt, ex) in src.items():
            if k in model:
                if amt > 900.0:
                    del model[k]
                else:
                    model[k] = (v, amt, ex)
            else:
                model[k] = (v, amt, ex)
        return next_k + 1, vname, has_extra
    if kind == "upsert":
        # latest-wins on amt: matched sources carry amt+100 (always
        # newer), plus one fresh key
        for k in [k for k in model if k % m == r]:
            v, amt, ex = model[k]
            model[k] = (f"u{k}", amt + 100.0, ex)
        model[next_k] = (f"n{next_k}", 3.0, 0.5)
        return next_k + 1, vname, has_extra
    if kind == "overwrite":
        model.clear()
        for i in range(3):
            k = next_k + i
            model[k] = (f"o{k}", float(k), float(k) * 3)
        return next_k + 3, vname, has_extra
    return next_k, vname, has_extra  # optimize: content-identical


def _apply_table(t, next_k, op, vname):
    kind, m, r = op
    r = r % m
    has_extra = "extra" in t.read().columns
    if kind == "rename":
        t.rename_column(vname, f"{vname}x")
    elif kind == "drop":
        if has_extra:
            t.drop_column("extra")
        # else: already dropped — metadata no-op, like the model
    elif kind == "append":
        rows = [
            (next_k + i, f"a{next_k + i}", float(next_k + i))
            + ((float(next_k + i) * 2,) if has_extra else ())
            for i in range(3)
        ]
        t.append(_df(rows, vname, has_extra))
    elif kind == "delete_cow":
        t.delete(f"k % {m} = {r}")
    elif kind == "delete_mor":
        t.delete(f"k % {m} = {r}", mode="mor")
    elif kind in ("update", "update_mor"):
        t.update(
            f"k % {m} = {r}",
            {vname: f"upper({vname})", "amt": "amt + 10.0"},
            mode="mor" if kind == "update_mor" else "cow",
        )
    elif kind in ("merge", "merge_mor"):
        cur = {
            row["k"]: (row[vname], row["amt"], row["extra"] if has_extra else None)
            for row in t.read().collect()
        }
        src_rows = [
            (k, f"m{k}", amt * 2) + ((ex,) if has_extra else ())
            for k, (v, amt, ex) in cur.items()
            if k % m == r
        ] + [(next_k, f"i{next_k}", 7.0) + ((1.5,) if has_extra else ())]
        t.merge(
            _df(src_rows, vname, has_extra),
            on=["k"],
            when_matched_delete="s.amt > 900.0",
            when_matched_update=(
                {vname: f"s.{vname}", "amt": "s.amt"}
                | ({"extra": "s.extra"} if has_extra else {})
            ),
            when_not_matched_insert="*",
            when_not_matched_by_source_delete=(
                "t.amt > 950.0" if r % 2 == 0 else None
            ),
            mode="mor" if kind == "merge_mor" else "cow",
        )
    elif kind == "upsert":
        cur = {
            row["k"]: (row[vname], row["amt"], row["extra"] if has_extra else None)
            for row in t.read().collect()
        }
        src_rows = [
            (k, f"u{k}", amt + 100.0) + ((ex,) if has_extra else ())
            for k, (v, amt, ex) in cur.items()
            if k % m == r
        ] + [(next_k, f"n{next_k}", 3.0) + ((0.5,) if has_extra else ())]
        t.upsert(_df(src_rows, vname, has_extra), ["k"], ["amt"])
    elif kind == "overwrite":
        rows = [
            (next_k + i, f"o{next_k + i}", float(next_k + i))
            + ((float(next_k + i) * 3,) if has_extra else ())
            for i in range(3)
        ]
        t.overwrite(_df(rows, vname, has_extra))
    elif kind == "optimize":
        t.optimize(target_files=2)


def _base_rows():
    return [(k, f"a{k}", float(k), float(k) * 2) for k in range(10)]


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=st.lists(_OP, min_size=1, max_size=5))
def test_dml_op_sequences_match_reference_model(ops):
    d = tempfile.mkdtemp(prefix="smetl_model_")
    try:
        base = _base_rows()
        t = VersionedTable.create(_SPARK["spark"], f"{d}/t", _df(base))
        model = {k: (v, amt, ex) for k, v, amt, ex in base}
        next_k, vname, has_extra = 10, "v", True
        # per-version model snapshots: RESTORE's reference semantics
        # is "the model exactly as it was at that version" — schema
        # state (rename/drop) included
        snaps = {0: (dict(model), vname, has_extra)}
        for op in ops:
            if op[0] == "restore":
                vs = t.versions()
                target = vs[op[2] % len(vs)]
                t.restore(target)
                m_s, vname, has_extra = snaps[target]
                model = dict(m_s)
            else:
                _apply_table(t, next_k, op, vname)
                next_k, vname, has_extra = _apply_model(
                    model, next_k, op, vname, has_extra
                )
            snaps[t.head_version()] = (dict(model), vname, has_extra)
        head = t.read()
        want_cols = ["k", vname, "amt"] + (["extra"] if has_extra else [])
        assert [f.name for f in head.schema.fields] == want_cols
        got = sorted(
            tuple(row[c] for c in want_cols) for row in head.collect()
        )
        want = sorted(
            (k, v, amt) + ((ex,) if has_extra else ())
            for k, (v, amt, ex) in model.items()
        )
        assert got == want, f"ops={ops}"
        # v0 time travel always survives whatever the sequence did
        assert sorted(
            (row["k"], row["v"], row["amt"], row["extra"])
            for row in t.read(0).collect()
        ) == sorted(base)
        # a shallow clone of whatever the sequence produced reads the
        # same state — zero-copy branching is schema/DV/mapping-safe
        # for EVERY reachable table shape, not just hand-picked ones
        cl = t.clone(f"{d}/branch")
        got_cl = sorted(
            tuple(row[c] for c in want_cols) for row in cl.read().collect()
        )
        assert got_cl == want, f"clone ops={ops}"
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=st.lists(_OP, min_size=1, max_size=5))
def test_cdf_feed_replay_reconstructs_head(ops):
    """The change feed is COMPLETE and CORRECT for any DML chain: a
    consumer starting from nothing and applying the typed rows of
    ``read_change_feed(-1)`` commit by commit (deletes first within a
    commit, then inserts/postimages, keyed upserts) ends at exactly
    the head state — under the head's own schema, across renames,
    drops, vectors, and full rewrites."""
    d = tempfile.mkdtemp(prefix="smetl_cdfmodel_")
    try:
        t = VersionedTable.create(
            _SPARK["spark"],
            f"{d}/t",
            _df(_base_rows()),
            change_data_feed=True,
        )
        next_k, vname = 10, "v"
        for op in ops:
            kind = op[0]
            if kind == "restore":
                vs = t.versions()
                t.restore(vs[op[2] % len(vs)])
                # the restore may have reverted a rename/drop: later
                # ops must address the CURRENT column name
                vname = [
                    c
                    for c in t.read().columns
                    if c not in ("k", "amt", "extra")
                ][0]
                continue
            _apply_table(t, next_k, op, vname)
            if kind == "rename":
                vname = f"{vname}x"
            elif kind in ("append", "overwrite"):
                next_k += 3
            elif kind in ("merge", "merge_mor", "upsert"):
                next_k += 1
        head_df = t.read()
        cols = head_df.columns
        head = sorted(
            tuple(row[c] for c in cols) for row in head_df.collect()
        )
        feed = t.read_change_feed(-1).collect()
        state: dict = {}
        for ver in sorted({r["_commit_version"] for r in feed}):
            rows = [r for r in feed if r["_commit_version"] == ver]
            for r in rows:
                if r["_change_type"] == "delete":
                    state.pop(r["k"], None)
            for r in rows:
                if r["_change_type"] in ("insert", "update_postimage"):
                    state[r["k"]] = tuple(r[c] for c in cols)
        assert sorted(state.values()) == head, f"ops={ops}"
    finally:
        shutil.rmtree(d, ignore_errors=True)
