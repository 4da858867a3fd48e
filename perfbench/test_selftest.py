"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 -m pytest perfbench/test_selftest.py -q

The in-process Spark tests share one session with the UI on, set up
the way the runner sets up its own; one test runs the runner twice.
They take about two minutes.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import run  # noqa: E402
from probe import Counters, rest_counts  # noqa: E402
from workloads import WORKLOADS, registry_context  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: joins, txlog commits, a stream, and a CLI job with data-driven loops
COUNTED = ("tpch_q3", "agg_rollup_cube", "sink_txlog_merge", "streaming_ingest_x2",
           "near_dup_resolve")


def test_same_seed_same_order_other_seed_other_order():
    for w in WORKLOADS.values():
        assert [o.name for o in w.order(7)] == [o.name for o in w.order(7)]
        assert sorted(o.name for o in w.order(7)) == sorted(o.name for o in w.ops)
    orders = {tuple(o.name for o in WORKLOADS["relational"].order(s)) for s in range(5)}
    assert len(orders) == 5


SF_DIR = datagen.SF_DIR


def _layout(base, seed) -> list[bytes]:
    paths = datagen.write_etl_inputs(str(base), SF_DIR, seed)
    out = []
    for d in (paths["orders_small"], paths["events_split"]):
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                out.append(fh.read())
    return out


def test_same_seed_same_inputs(tmp_path):
    first = _layout(tmp_path / "a", 3)
    assert first == _layout(tmp_path / "b", 3)
    assert first != _layout(tmp_path / "c", 4)


@pytest.fixture(scope="module")
def session():
    runs = os.path.join(ROOT, run.RUNS_DIR)
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="selftest-", dir=runs)
    old_cwd, old_env = os.getcwd(), dict(os.environ)
    run.prepare_process(ROOT, run_dir, ui=True)
    args = run.parse_args(["--workload", "pipelines", "--seed", "1", "--seconds", "1"])
    runner = run.Runner(args, run_dir)
    etl = datagen.write_etl_inputs(os.path.join(run_dir, "etl"), SF_DIR, 1)
    runner.set_up(WORKLOADS["pipelines"], SF_DIR, 0.0)
    ctx = registry_context(runner.spark, SF_DIR, os.path.join(run_dir, "out"), etl)
    yield runner, ctx
    ctx.oracle.close()
    runner.stop()
    os.chdir(old_cwd)
    os.environ.clear()
    os.environ.update(old_env)
    shutil.rmtree(run_dir, ignore_errors=True)


def _ops(seed):
    ops = [o for w in WORKLOADS.values() for o in w.ops if o.name in COUNTED]
    random.Random(seed).shuffle(ops)
    return ops


def _counts(runner, ctx, ops, counters):
    p = runner.run_pass(ops, ctx, counters, None)
    counters.settle()
    return {r["op"]: (r["c"].jobs, counters.stages(r["c"].stage_ids()),
                      r["e"].jobs, counters.stages(r["e"].stage_ids())) for r in p["ops"]}, p


def test_counters_repeat_across_passes_and_seeds(session):
    runner, ctx = session
    counters = Counters(runner.spark)
    _counts(runner, ctx, _ops(1), counters)  # first pass warms caches
    first, _ = _counts(runner, ctx, _ops(1), counters)
    again, _ = _counts(runner, ctx, _ops(1), counters)
    other, _ = _counts(runner, ctx, _ops(2), counters)
    assert [o.name for o in _ops(1)] != [o.name for o in _ops(2)]
    assert not runner.failures
    assert first == again == other


def _run(workload, seed) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=300, check=True)
    return json.loads(out.stdout.decode().strip().splitlines()[-1])


def test_fresh_runs_count_the_same_for_other_seeds():
    """The end-to-end counts come from a run's first pass; two runs with
    other seeds, so other operation orders, give the same counts."""
    a, b = _run("relational", 1), _run("relational", 2)
    assert a["correct"] and b["correct"]
    for k in ("spark_jobs", "spark_stages", "spark_tasks"):
        assert a["metrics"][k]["value"] == b["metrics"][k]["value"], k


def test_ui_and_status_tracker_counts_agree(session):
    runner, ctx = session
    counters = Counters(runner.spark)
    _, p = _counts(runner, ctx, _ops(3), counters)
    for r in p["ops"]:
        for w in (r["c"], r["e"]):
            assert rest_counts(runner.spark, w) == (w.jobs, counters.stages(w.stage_ids())[0]), r["op"]
