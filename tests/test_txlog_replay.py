"""Property test (hypothesis) for the txlog format's one log replay in
``io/txlog_source.py``: replaying the raw JSON commits and replaying a
checkpoint plus the JSON tail must give the same table state — live
files with their winning add actions, applicable deletion vectors,
incremental file lists, txn markers and ``AS OF TIMESTAMP`` resolution.
Pure stdlib + pyarrow, no Spark."""

from __future__ import annotations

import json
import os
import tempfile

from hypothesis import given, settings, strategies as st

from aind_data_transformation_spark.io.txlog_source import (
    _incremental_files,
    _live_adds,
    _live_dvs,
    _log_rows,
    _version_as_of_ts,
    checkpoint_log,
)

_FILES = [f"/t/data/f{i}" for i in range(5)]
_SIDECARS = [f"/t/data/dv{i}" for i in range(3)]

_add = st.builds(
    lambda p, part, mn: {
        "action": "add",
        "path": p,
        **({"part": part} if part else {}),
        **({"min_key": mn} if mn is not None else {}),
    },
    st.sampled_from(_FILES),
    st.sampled_from([None, "A", "B"]),
    st.none() | st.integers(0, 9),
)
_remove = st.builds(
    lambda p: {"action": "remove", "path": p}, st.sampled_from(_FILES)
)
_dv = st.builds(
    lambda s, t: {"action": "dv", "path": s, "target": t},
    st.sampled_from(_SIDECARS),
    st.sampled_from(_FILES),
)
_txn = st.builds(
    lambda t: {"action": "txn", "path": t}, st.sampled_from(["a", "b", "c"])
)
_meta = st.builds(
    lambda d: {"action": "metaData", "schema": d},
    st.sampled_from(["k bigint", "k bigint, v string"]),
)
_commit = st.tuples(
    st.lists(st.one_of(_add, _add, _remove, _dv, _txn, _meta), max_size=5),
    # commitInfo: absent on pre-provenance commits; otherwise its
    # timestamp advances by a non-negative step
    st.none() | st.integers(0, 3),
)


def _write_log(log_dir: str, commits: list) -> None:
    os.makedirs(log_dir)
    ts = 100
    for c, (actions, step) in enumerate(commits):
        lines = []
        if step is not None:
            ts += step
            lines.append(
                {"commit": c, "action": "commitInfo", "op": "WRITE", "ts": ts}
            )
        lines += [{"commit": c, **a} for a in actions]
        with open(os.path.join(log_dir, f"{c:05d}.json"), "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in lines)


def _present(row: dict) -> dict:
    # a checkpoint row carries every schema column, None where unset
    return {k: v for k, v in row.items() if v is not None}


def _state(rows: list, as_of, start) -> tuple:
    adds = _live_adds(rows, as_of)
    return (
        {p: _present(r) for p, r in adds.items()},
        _live_dvs(rows, sorted(adds), as_of),
        _incremental_files(rows, start, as_of),
        {r["path"] for r in rows if r["action"] == "txn"},
    )


def _as_of_ts(rows: list, ts: int):
    try:
        return _version_as_of_ts(rows, ts)
    except ValueError as e:
        return str(e)


@settings(max_examples=200, deadline=None)
@given(
    commits=st.lists(_commit, min_size=1, max_size=6),
    data=st.data(),
)
def test_checkpoint_replay_matches_full_replay(commits, data):
    head = len(commits) - 1
    v = data.draw(st.integers(0, head), label="checkpoint version")
    with tempfile.TemporaryDirectory() as tmp:
        log_dir = os.path.join(tmp, "_log")
        _write_log(log_dir, commits)
        full = _log_rows(log_dir)
        checkpoint_log(log_dir, v)
        # the compacted commits are gone: their state comes from the
        # checkpoint alone
        assert sorted(f for f in os.listdir(log_dir) if f.endswith(".json")) == [
            f"{c:05d}.json" for c in range(v + 1, head + 1)
        ]
        compacted = _log_rows(log_dir)
    for as_of in [None, *range(v, head + 1)]:
        end = head if as_of is None else as_of
        for start in range(v, end + 1):
            assert _state(compacted, as_of, start) == _state(
                full, as_of, start
            ), (as_of, start)
    for ts in range(99, 100 + 3 * len(commits) + 2):
        assert _as_of_ts(compacted, ts) == _as_of_ts(full, ts), ts
