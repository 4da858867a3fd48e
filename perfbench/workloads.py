"""The workloads: which operations each runs, how its shared fixtures
are staged, and how each operation's output is checked.

An operation has two timed phases. ``construct`` is the call that
returns a DataFrame (for a registry key, every Spark job the key runs
before it returns: schema reads, staging, fixed-point loops, txlog
commits, stream drains). ``execute`` runs the returned plan with a
``noop`` write. A CLI job has only a construct phase: it writes its own
outputs. An operation's check takes what ``construct`` returned and runs
outside the timed window: a key's DataFrame is collected again and
compared with DuckDB, a job's outputs are read back; see README.md.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable, Iterable

from checks import Oracle, row_multiset

RELATIONAL_KEYS = (
    "tpch_q3", "tpch_q5", "tpch_q18", "join_inner_equi", "join_left_right_full",
    "join_semi_anti", "agg_group", "agg_rollup_cube", "win_rank",
    "set_intersect_except", "filter_compound", "scan_parquet",
)
LAKEHOUSE_KEYS = (
    "sink_txlog_merge", "sink_txlog_checkpoint", "sink_txlog_stats_skipping",
)


@dataclass
class Ctx:
    """What an operation may use: the session, the fixture tables, the
    CLI jobs' inputs and a private output directory."""

    spark: Any
    sf_dir: str  # the fixture tables
    out_dir: str
    etl: dict  # CLI job inputs, from datagen.write_etl_inputs
    queries: dict  # the engine's registry
    sql: dict  # registry key -> DuckDB oracle SQL
    oracle: Oracle
    last: dict  # job op name -> the JobResponses of its last run


@dataclass(frozen=True)
class Op:
    name: str
    construct: Callable[[Ctx], Any]
    #: checks what ``construct`` returned: (rows checked, why it failed)
    check: Callable[[Ctx, Any], tuple[int, str | None]]
    executes: bool = True  # construct returns a DataFrame to run


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    stage: Callable[[Any, str], None]  # stages the shared fixtures
    #: whether its operations run Python workers (UDFs, Python data
    #: sources), so that set-up warms a pool of them
    python_workers: bool

    def order(self, seed: int) -> list[Op]:
        """The operations in the seed's order."""
        ops = list(self.ops)
        random.Random(seed).shuffle(ops)
        return ops


# ---------------------------------------------------------------- keys


def _key_op(key: str) -> Op:
    def construct(ctx: Ctx):
        return ctx.queries[key](ctx.spark, ctx.sf_dir)

    def check(ctx: Ctx, df):
        return ctx.oracle.compare(df, ctx.sql[key])

    return Op(key, construct, check)


# ---------------------------------------------------------------- jobs


def run_cli(ctx: Ctx, job: str, settings: dict) -> dict:
    """One in-process CLI invocation; returns the parsed JobResponse."""
    from aind_data_transformation_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main([job, "-j", json.dumps(settings)], spark=ctx.spark)
    resp = json.loads(buf.getvalue().strip().splitlines()[-1])
    resp["data"] = json.loads(resp["data"]) if resp.get("data") else {}
    return resp


def _job_op(name: str, invocations: Callable[[Ctx], Iterable[tuple[str, dict]]],
            check: Callable[[Ctx, list[dict]], tuple[int, str | None]],
            prepare: Callable[[Ctx], None] | None = None) -> Op:
    def construct(ctx: Ctx):
        if prepare is not None:
            prepare(ctx)
        resps = [run_cli(ctx, job, s) for job, s in invocations(ctx)]
        ctx.last[name] = resps
        return resps

    def do_check(ctx: Ctx, resps):
        bad = [r for r in resps if not 200 <= r["status_code"] < 300]
        if bad:
            return 0, f"status {bad[0]['status_code']}: {bad[0].get('message')}"
        return check(ctx, resps)

    return Op(name, construct, do_check, executes=False)


def _out(ctx: Ctx, name: str) -> str:
    return os.path.join(ctx.out_dir, name)


def _readback(ctx: Ctx, path: str, fmt: str, table: str) -> str:
    """A DuckDB table function reading the parquet or gzipped JSON
    files a job wrote to ``path``; JSON is read with ``table``'s column
    types."""
    if fmt == "parquet":
        return f"read_parquet('{path}/**/*.parquet')"
    types = ", ".join(f"'{c}': '{t}'" for c, t in ctx.oracle.columns(table).items())
    return (f"read_json('{path}/*.json.gz', format = 'newline_delimited',"
            f" columns = {{{types}}})")


def _format_op() -> Op:
    """lineitem from parquet to gzipped JSON; the JSON read back holds
    lineitem's rows, as many as the JobResponse says it wrote."""
    name = "format_conversion_json"

    def invocations(ctx):
        return [("format_conversion", {
            "input_source": os.path.join(ctx.sf_dir, "lineitem.parquet"),
            "output_directory": _out(ctx, name),
            "output_format": "json", "compression": "gzip",
        })]

    def check(ctx, resps):
        n, why = ctx.oracle.same_rows(_readback(ctx, _out(ctx, name), "json", "lineitem"),
                                      "lineitem")
        written = resps[0]["data"]["rows_written"]
        if why is None and written != n:
            why = f"JobResponse rows_written {written} != {n} rows on disk"
        return n, why

    return _job_op(name, invocations, check)


def _compaction_op() -> Op:
    def invocations(ctx):
        return [("compaction", {
            "input_source": ctx.etl["orders_small"],
            "output_directory": _out(ctx, "compaction"),
            "target_file_bytes": 64 * 1024,
        })]

    def check(ctx, resps):
        return ctx.oracle.same_rows(
            _readback(ctx, _out(ctx, "compaction"), "parquet", "orders"), "orders")

    return _job_op("compaction", invocations, check)


def _near_dup_op() -> Op:
    """Fuzzy dedup of the documents: the rows it keeps are documents
    rows, as many as it reports, and ``rows_in - rows_dropped ==
    rows_out``."""
    name = "near_dup_resolve"

    def invocations(ctx):
        return [(name, {
            "input_source": os.path.join(ctx.sf_dir, "documents.parquet"),
            "output_directory": _out(ctx, name),
        })]

    def check(ctx, resps):
        d = resps[0]["data"]
        out = _readback(ctx, _out(ctx, name), "parquet", "documents")
        n, foreign = ctx.oracle.con.execute(
            f"SELECT (SELECT count(*) FROM {out}),"
            f" (SELECT count(*) FROM (SELECT * FROM {out} EXCEPT ALL"
            f" SELECT * FROM documents))").fetchone()
        if foreign:
            return n, f"{foreign} rows on disk are not documents rows"
        if d["rows_out"] != n or d["rows_in"] - d["rows_dropped"] != n:
            return n, f"JobResponse counts {d} disagree with {n} rows on disk"
        return n, None

    return _job_op(name, invocations, check)


STREAM_TWIN_SQL = """
SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS win_start, event_type,
       count(*) AS n_events, sum(round(value * 100)::BIGINT) / 100.0 AS sum_value
FROM events GROUP BY ALL
"""


def _streaming_op() -> Op:
    """Two invocations over an input directory that grows between them:
    the first half of the events (by event time), then the second."""
    name = "streaming_ingest_x2"

    def prepare(ctx):
        base = _out(ctx, name)
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(os.path.join(base, "in"))
        _deliver(ctx, 0)

    def _deliver(ctx, part):
        src = os.path.join(ctx.etl["events_split"], f"part-{part}.parquet")
        os.link(src, os.path.join(_out(ctx, name), "in", f"part-{part}.parquet"))

    def invocations(ctx):
        base = _out(ctx, name)
        settings = {
            "input_source": os.path.join(base, "in"),
            "output_directory": os.path.join(base, "sink"),
            "checkpoint_dir": os.path.join(base, "ckpt"),
        }
        yield ("streaming_ingest", settings)
        _deliver(ctx, 1)
        yield ("streaming_ingest", settings)

    def check(ctx, resps):
        first, second = (r["data"]["sink_rows_total"] for r in resps)
        rows = ctx.spark.read.parquet(os.path.join(_out(ctx, name), "sink")).select(
            "win_start", "event_type", "n_events", "sum_value").collect()
        _, want = ctx.oracle.query(STREAM_TWIN_SQL)
        if not 0 < first < second == len(rows):
            return len(rows), f"sink rows {first} then {second}, {len(rows)} on disk"
        want_set = set(row_multiset(want))
        if not set(row_multiset(rows)) <= want_set:
            return len(rows), "a finalized window differs from the SQL twin"
        return len(rows), None

    return _job_op(name, invocations, check, prepare)


ETL_OPS = (
    _format_op(),
    _compaction_op(),
    _near_dup_op(),
    _streaming_op(),
)


# ------------------------------------------------------------- staging


def _stage_none(spark, sf_dir: str) -> None:
    pass


def _stage_lakehouse(spark, sf_dir: str) -> None:
    """The txlog fixture batches every txlog key of the workload reads."""
    from aind_data_transformation_spark.queries import sinks

    sinks._txlog_fixture_batches(spark, sf_dir)


WORKLOADS = {
    w.name: w
    for w in (
        Workload("relational", tuple(_key_op(k) for k in RELATIONAL_KEYS),
                 _stage_none, python_workers=False),
        Workload("pipelines",
                 (*(_key_op(k) for k in LAKEHOUSE_KEYS), *ETL_OPS),
                 _stage_lakehouse, python_workers=True),
    )
}


def registry_context(spark, sf_dir: str, out_dir: str, etl: dict) -> Ctx:
    from aind_data_transformation_spark.queries import registry

    queries, sql = registry()
    return Ctx(spark, sf_dir, out_dir, etl, queries, sql, Oracle(sf_dir), {})
