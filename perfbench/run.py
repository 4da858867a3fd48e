"""Engine benchmark runner.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One process runs one workload on a
``local[N]`` session (N = min(4, cores)) as a closed loop: one client,
one operation at a time. It sets up a session three times (first from a
cold start, then twice more on the same JVM after stopping the previous
session), lays out the CLI jobs' inputs from the seed, runs whole passes
over the workload's operations until ``--seconds`` have gone by (at
least one), checks what every operation of the last pass returned, and
prints a table and, as the last line of stdout, one JSON object.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics. See
README.md for the metrics and what each should move.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PKG = "aind_data_transformation_spark"
ROOT = os.getcwd()  # the checkout: a run starts from its root
RUNS_DIR = ".perfbench_runs"
SETUPS = 3  # set-ups per run, the first from a cold start; setup_s is their median

END_TO_END = {"setup_s": "s", "spark_jobs": "count", "spark_stages": "count",
              "spark_tasks": "count"}
#: printed in the table, not in the JSON line: their spread between runs
#: is too wide for a bound (see README.md); they are per-layer metrics
#: too. failed_ratio is 0 on a healthy run and written_mb on a workload
#: that writes nothing; a run of few operations has no tail beyond ten.
REPORTED = {"wall_s": "s", "op_p50_s": "s", "op_tail_s": "s", "cpu_s": "s",
            "peak_rss_mb": "MB", "failed_ratio": "ratio", "written_mb": "MB"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_process(root: str, run_dir: str, ui: bool = False) -> None:
    """Point every temp, scratch and warehouse path of the driver, the
    JVM and the Python workers into ``run_dir``, and export the engine's
    path so Python workers can import it."""
    tmp = os.path.join(run_dir, "tmp")
    cwd = os.path.join(run_dir, "cwd")
    for d in (tmp, cwd, os.path.join(run_dir, "local")):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONWARNINGS"] = "ignore"
    confs = {
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory;
        # a fixed set of JIT compiler threads, so their CPU can be read
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                                         " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    os.chdir(cwd)  # relative writes (saveAsTable) stay in the run
    sys.path.insert(0, root)


def log(msg: str) -> None:
    print(f"perfbench: {time.monotonic() - T_PROCESS:7.2f} s  {msg}", file=sys.stderr)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile of ``n`` samples with at least ten
    samples beyond it; None when there are ten or fewer."""
    return math.floor(100.0 * (n - 10) / n) if n > 10 else None


class Runner:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.spark = None
        self.setups: list[dict] = []
        self.failures: dict[str, str] = {}  # op -> first reason

    def fail(self, op: str, why: str) -> None:
        self.failures.setdefault(op, why)

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(60)
            SparkContext._gateway = SparkContext._jvm = None
        self.spark = None

    # ---------------------------------------------------------- set-up

    def restart(self) -> float:
        """Stop the session but keep its JVM, for the next set-up.
        Returns when the stop has finished.

        The engine keeps its staged fixtures in module-level registries
        keyed by application id, and evicts the entries of other
        applications, scratch directory and all, when it stages. The
        txlog batches are staged at one path per process, so evicting
        the stopped session's entry would delete what the new session
        has just staged there. A new process starts with the registry
        empty; so does the next set-up."""
        from aind_data_transformation_spark.queries import sinks

        self.spark.stop()
        sinks._TXLOG_FIXTURE_STAGE.clear()
        return time.monotonic()

    def set_up(self, workload, sf_dir: str, start: float) -> None:
        """Build the session, warm it and stage the workload's shared
        fixtures; the set-up's total counts from ``start``."""
        from aind_data_transformation_spark.session import build_session

        t0 = time.monotonic()
        n = min(4, os.cpu_count() or 1)
        os.environ["SPARK_GRAFT_CPUS"] = str(n)
        self.spark = build_session(app_name=f"perfbench-{workload.name}",
                                   master=f"local[{n}]", shuffle_partitions=n)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.monotonic()
        # one Arrow worker per core, and the JVM's first shuffle
        if workload.python_workers:
            self.spark.range(0, 2 * n, 1, n).mapInPandas(lambda it: it, "id long").count()
        self.spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        t2 = time.monotonic()
        workload.stage(self.spark, sf_dir)
        t3 = time.monotonic()
        self.setups.append({"total": t3 - start, "build": t1 - t0,
                            "warm": t2 - t1, "stage": t3 - t2})

    # -------------------------------------------------------- one pass

    def run_pass(self, ops, ctx, counters, tracer) -> dict:
        """Run every op once: construct, then a noop write of the plan."""
        from probe import jvm_thread_cpu_s, tree_cpu_s

        sc = self.spark.sparkContext
        traced = tracer is not None and tracer.enabled
        recs, results = [], []
        start = time.time()
        jvm = sc._gateway.proc.pid
        cpu0, (jit0, gc0) = tree_cpu_s(os.getpid()), jvm_thread_cpu_s(jvm)
        t_pass = time.monotonic()
        for i, op in enumerate(ops):
            if traced:
                tracer.op = i
                op_span = tracer.begin(op.name, "op")
            df = None
            t0 = time.monotonic()
            sc.setJobGroup(f"perfbench-{i}-construct", f"{op.name} construct")
            w_c = counters.open()
            sid = tracer.begin("construct", "queries") if traced else None
            try:
                df = op.construct(ctx)
            except Exception:
                self.fail(op.name, "construct raised\n" + traceback.format_exc())
            finally:
                if traced:
                    tracer.end(sid)
                counters.close(w_c)
            t1 = time.monotonic()
            sc.setJobGroup(f"perfbench-{i}-execute", f"{op.name} execute")
            w_e = counters.open()
            if op.executes and df is not None:
                sid = tracer.begin("execute", "execute") if traced else None
                try:
                    df.write.mode("overwrite").format("noop").save()
                except Exception:
                    self.fail(op.name, "execute raised\n" + traceback.format_exc())
                finally:
                    if traced:
                        tracer.end(sid)
            counters.close(w_e)
            t2 = time.monotonic()
            sc.setLocalProperty("spark.jobGroup.id", None)
            if traced:
                tracer.end(op_span)
            recs.append({"op": op.name, "construct_s": t1 - t0, "execute_s": t2 - t1,
                         "c": w_c, "e": w_e})
            results.append(df)
        wall = time.monotonic() - t_pass
        cpu1, (jit1, gc1) = tree_cpu_s(os.getpid()), jvm_thread_cpu_s(jvm)
        return {"ops": recs, "results": results, "wall_s": wall, "cpu_total_s": cpu1 - cpu0,
                "cpu_s": cpu1 - cpu0 - (jit1 - jit0), "jit_s": jit1 - jit0,
                "gc_s": gc1 - gc0, "start": start, "traced": traced}

    def after_pass(self, p: dict, counters, tracer, probe, spans0: int, prog0: int) -> None:
        """Counters of a finished pass, read outside its timed region."""
        from probe import tree_bytes, txlog_counts

        counters.settle()
        for r in p["ops"]:
            r["c_stages"], r["c_tasks"] = counters.stages(r["c"].stage_ids())
            r["e_stages"], r["e_tasks"] = counters.stages(r["e"].stage_ids())
        tmp = os.environ["TMPDIR"]
        p["written_bytes"] = sum(
            tree_bytes(os.path.join(self.run_dir, d), p["start"])
            for d in ("tmp", "out", "warehouse", "cwd"))
        if p["traced"]:
            tracer.add_job_spans(spans0)
            p["spans"] = (spans0, len(tracer.spans))
            p["progress"] = probe.progress[prog0:]
            p["txlog"] = txlog_counts(tmp, p["start"])
            p["bytes"] = {}
            for r in p["ops"]:
                for k, v in counters.stage_bytes(r["e"].stage_ids()).items():
                    p["bytes"][k] = p["bytes"].get(k, 0.0) + v

    # ------------------------------------------------------------ run

    def main(self) -> dict:
        import datagen
        from probe import Counters, StreamProbe, Tracer, install_layer_wrappers, peak_rss_mb
        from workloads import WORKLOADS, registry_context

        args = self.args
        workload = WORKLOADS[args.workload]
        sf_dir = datagen.SF_DIR
        self.set_up(workload, sf_dir, T_PROCESS)
        for _ in range(SETUPS - 1):
            self.set_up(workload, sf_dir, self.restart())
        log("set-ups done")
        etl = datagen.write_etl_inputs(
            os.path.join(self.run_dir, "data", "etl"), sf_dir, args.seed)
        spark = self.spark
        counters = Counters(spark)
        probe = StreamProbe()
        spark.streams.addListener(probe)
        out_dir = os.path.join(self.run_dir, "out")
        os.makedirs(out_dir)
        ctx = registry_context(spark, sf_dir, out_dir, etl)
        ops = workload.order(args.seed)
        tracer = None
        if args.trace:
            tracer = Tracer(counters)
            log(f"layer names rebound: {install_layer_wrappers(tracer)}")

        passes: list[dict] = []
        deadline = time.monotonic() + args.seconds
        while True:
            if tracer is not None:
                tracer.enabled = len(passes) % 2 == 1
            spans0 = len(tracer.spans) if tracer else 0
            counters.settle()
            prog0 = len(probe.progress)
            p = self.run_pass(ops, ctx, counters, tracer)
            self.after_pass(p, counters, tracer, probe, spans0, prog0)
            passes.append(p)
            log(f"pass {len(passes)}: {p['wall_s']:.3f} s, cpu {p['cpu_total_s']:.2f} s,"
                f" jit {p['jit_s']:.2f} s, gc {p['gc_s']:.2f} s"
                f"{' traced' if p['traced'] else ''}")
            # with tracing, untraced and traced passes alternate, and the
            # last pass is untraced, so every traced pass has one after it
            if (time.monotonic() >= deadline and not p["traced"]
                    and (tracer is None or len(passes) >= 3)):
                break
        if tracer is not None:
            tracer.enabled = False
        log(f"{len(passes)} passes done")
        rss = peak_rss_mb(spark)
        # what the last pass returned: a key's DataFrame is collected
        # again, a job's outputs are read back from disk
        checked_rows = self.check(ops, passes[-1]["results"], ctx)
        log("checks done")
        ctx.oracle.close()
        if tracer is not None:
            tracer.dump(os.path.join(os.path.dirname(self.run_dir),
                                     f"{workload.name}-{args.seed}-spans.jsonl"))

        timed = [p for p in passes if not p["traced"]]
        traced = [p for p in passes if p["traced"]]
        attempted = len(ops) * len(passes)
        failed = sum(1 for p in passes for r in p["ops"] if r["op"] in self.failures)
        result = {
            "workload": workload.name,
            "correct": not self.failures,
            "attempted": attempted,
            "failed": failed,
            "e2e": self.end_to_end(timed, rss, failed / attempted),
            "timed_ops": [r for p in timed for r in p["ops"]],
            "traced_ops": [r for p in traced for r in p["ops"]],
        }
        if tracer is not None:
            result["layers"] = self.per_layer(passes, tracer, ctx, counters,
                                              checked_rows, rss)
        return result

    def check(self, ops, results, ctx) -> int:
        """Every op's output check. Returns the rows checked."""
        rows = 0
        for op, res in zip(ops, results):
            if res is None:
                continue  # it raised, and has failed already
            t = time.monotonic()
            try:
                n, why = op.check(ctx, res)
            except Exception:
                n, why = 0, "check raised\n" + traceback.format_exc()
            log(f"checked {op.name}: {n} rows in {time.monotonic() - t:.2f} s")
            rows += n
            if why:
                self.fail(op.name, why)
        return rows

    # -------------------------------------------------------- metrics

    def end_to_end(self, timed, rss, failed_ratio) -> dict:
        med = statistics.median
        lat = [r["construct_s"] + r["execute_s"] for p in timed for r in p["ops"]]
        p_tail = tail_percentile(len(lat))
        return {
            "setup_s": med(s["total"] for s in self.setups),
            # CPU of the first timed pass less the JIT compiler's: every
            # run has a first pass, at the same point of the JVM's
            # warm-up. The compiler threads' share (a third to a half of
            # the pass) moves with when the JVM chooses to compile.
            "cpu_s": timed[0]["cpu_s"],
            "wall_s": med(p["wall_s"] for p in timed),
            "op_p50_s": med(lat),
            "op_tail_s": percentile(lat, p_tail) if p_tail is not None else None,
            "spark_jobs": sum(r["c"].jobs + r["e"].jobs for r in timed[0]["ops"]),
            "spark_stages": sum(r["c_stages"] + r["e_stages"] for r in timed[0]["ops"]),
            "spark_tasks": sum(r["c_tasks"] + r["e_tasks"] for r in timed[0]["ops"]),
            "peak_rss_mb": rss,
            "failed_ratio": failed_ratio,
            "written_mb": med(p["written_bytes"] for p in timed) / 1e6,
            # context for the table
            "op_tail_pct": p_tail,
            "op_samples": len(lat),
            "passes": len(timed),
        }

    def per_layer(self, passes, tracer, ctx, counters, checked_rows, rss) -> dict:
        timed = [p for p in passes if not p["traced"]]
        traced = [p for p in passes if p["traced"]]
        n = len(traced)
        med = statistics.median

        def mean(fn):
            return sum(fn(p) for p in traced) / n

        def ops_sum(key):
            return mean(lambda p: sum(key(r) for r in p["ops"]))

        out: dict[str, float] = {
            # the first set-up, from process start: JVM launch and all
            "session.cold_setup_s": self.setups[0]["total"],
            "session.build_s": med(s["build"] for s in self.setups),
            "session.warm_s": med(s["warm"] for s in self.setups),
            "session.stage_build_s": med(s["stage"] for s in self.setups),
            "queries.construct_s": ops_sum(lambda r: r["construct_s"]),
            "queries.construct_jobs": ops_sum(lambda r: r["c"].jobs),
            "queries.construct_stages": ops_sum(lambda r: r["c_stages"]),
            "queries.construct_tasks": ops_sum(lambda r: r["c_tasks"]),
            "execute.s": ops_sum(lambda r: r["execute_s"]),
            "execute.jobs": ops_sum(lambda r: r["e"].jobs),
            "execute.stages": ops_sum(lambda r: r["e_stages"]),
            "execute.tasks": ops_sum(lambda r: r["e_tasks"]),
        }
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "executor_cpu_s", "gc_s"):
            out[f"execute.{k}"] = mean(lambda p: p["bytes"].get(k, 0.0))
        out["execute.output_rows"] = float(checked_rows)

        self_t: dict[str, float] = {}
        for p in traced:
            for layer, v in tracer.self_times(*p["spans"]).items():
                self_t[layer] = self_t.get(layer, 0.0) + v / n
        for layer in ("io.sources", "io.txlog_source", "ops", "texthash"):
            calls = mean(lambda p: sum(1 for s in tracer.spans[slice(*p["spans"])]
                                       if s.layer == layer))
            jobs = mean(lambda p: sum(s.window.jobs for s in tracer.spans[slice(*p["spans"])]
                                      if s.layer == layer))
            out[f"{layer}.calls"] = calls
            out[f"{layer}.self_s"] = self_t.get(layer, 0.0)
            out[f"{layer}.jobs"] = jobs
        calls = out["io.sources.calls"]
        out["io.sources.jobs_per_call"] = out["io.sources.jobs"] / calls if calls else 0.0
        for k in ("commits", "checkpoints", "data_files_written", "log_bytes"):
            out[f"io.txlog_source.{k}"] = mean(lambda p: p["txlog"][k])
        out["io.written_mb"] = med(p["written_bytes"] for p in timed) / 1e6

        prog = [e for p in traced for e in p["progress"]]
        runs = {e["run"] for e in prog}
        stream_jobs = sum(counters.group_jobs(r) for r in runs)
        out["streaming.epochs"] = len(prog) / n
        out["streaming.epoch_ms_p50"] = med(e["ms"] for e in prog) if prog else 0.0
        out["streaming.jobs_per_epoch"] = stream_jobs / len(prog) if prog else 0.0
        out["streaming.input_rows"] = sum(e["rows"] for e in prog) / n
        out["streaming.state_rows"] = max((e["state_rows"] for e in prog), default=0)
        out["streaming.nonempty_epoch_ratio"] = (
            sum(1 for e in prog if e["rows"] > 0) / len(prog) if prog else 0.0)

        job_ops = [r for p in traced for r in p["ops"] if r["op"] in ctx.last]
        resps = [r for lst in ctx.last.values() for r in lst]
        out["jobs.run_s"] = sum(r["construct_s"] for r in job_ops) / n
        out["jobs.spark_jobs"] = sum(r["c"].jobs for r in job_ops) / n
        out["jobs.invocations"] = len(resps)
        out["jobs.rows_in"] = sum(r["data"].get("rows_in", 0) for r in resps)
        out["jobs.rows_out"] = sum(_rows_out(r["data"]) for r in resps)
        out["jobs.non2xx"] = sum(1 for r in resps if not 200 <= r["status_code"] < 300)

        # the first pass, as in an untraced run of the same seconds
        out["pass.wall_s"] = timed[0]["wall_s"]
        out["pass.op_p50_s"] = med(r["construct_s"] + r["execute_s"] for r in timed[0]["ops"])
        out["process.peak_rss_mb"] = rss
        out["process.cpu_s"] = timed[0]["cpu_s"]
        out["process.cpu_total_s"] = timed[0]["cpu_total_s"]
        out["process.jit_cpu_s"] = timed[0]["jit_s"]
        out["process.gc_cpu_s"] = timed[0]["gc_s"]
        out["process.traced_cpu_s"] = mean(lambda p: p["cpu_s"])
        out["spark.job_self_s"] = self_t.get("spark.job", 0.0)
        out["trace.wall_s"] = med(p["wall_s"] for p in traced)
        # traced pass less the untraced pass after it: the later pass
        # is the warmer one, so this errs high
        walls = [p["wall_s"] for p in passes]
        out["trace.overhead_s"] = med(walls[i] - walls[i + 1]
                                      for i, p in enumerate(passes) if p["traced"])
        # op and construct spans take whatever their children do not
        # cover: the key's own Python and driver-side planning outside
        # the wrapped layers. That remainder is reported on its own.
        rest = ("op", "queries")
        out["trace.accounted_s"] = sum(v for k, v in self_t.items() if k not in rest)
        out["trace.unattributed_s"] = sum(self_t.get(k, 0.0) for k in rest)
        out["trace.spans"] = len(tracer.spans) / n
        return out


def _rows_out(data: dict) -> int:
    for k in ("rows_out", "rows_clean", "rows_written", "sink_rows_total", "n_vectors"):
        if k in data:
            return data[k]
    return 0


LAYER_UNITS = {"_s": "s", "_bytes": "bytes", "_mb": "MB", "_ms_p50": "ms",
               "_ratio": "ratio", "per_call": "jobs/call", "per_epoch": "jobs/epoch"}


def layer_unit(name: str) -> str:
    if name == "execute.s":
        return "s"
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def report(result: dict, fd: int, trace: bool) -> None:
    e2e = result["e2e"]
    lines = [f"# workload {result['workload']}: {e2e['passes']} timed passes,"
             f" {result['attempted']} operations attempted, {result['failed']} failed"]
    for name, unit in {**END_TO_END, **REPORTED}.items():
        if name == "op_tail_s" and e2e[name] is None:
            lines.append(f"{name:32s} {'n/a':>14s}    ({e2e['op_samples']} samples;"
                         " a tail needs more than 10)")
            continue
        extra = ""
        if name == "op_tail_s":
            extra = f"  (p{e2e['op_tail_pct']} of {e2e['op_samples']} samples)"
        lines.append(f"{name:32s} {e2e[name]:14.6g} {unit}{extra}")
    if trace:
        for name, v in result["layers"].items():
            lines.append(f"{name:32s} {v:14.6g} {layer_unit(name)}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    payload = {"correct": result["correct"], "attempted": result["attempted"],
               "failed": result["failed"], "metrics": metrics}
    lines.append(json.dumps(payload, separators=(",", ":")))
    os.write(fd, ("\n".join(lines) + "\n").encode())


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    root = ROOT
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: {root} holds no {PKG}/ package; run from the root of"
              " a checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of"
              f" {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    # The JVM and library prints land on fd 1; keep fd 1 for stderr and
    # write the table and the JSON line to a private copy of stdout.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    runs = os.path.join(root, RUNS_DIR)
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    runner = Runner(args, run_dir)
    try:
        prepare_process(root, run_dir)
        result = runner.main()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        runner.stop()
        log("stopped")
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
    for kind in ("timed", "traced"):
        recs = result.get(f"{kind}_ops", [])
        for op in sorted({r["op"] for r in recs}):
            mine = [r for r in recs if r["op"] == op]
            lat = [round(r["construct_s"] + r["execute_s"], 3) for r in mine]
            jobs = [r["c"].jobs + r["e"].jobs for r in mine]
            print(f"perfbench: {kind:6s} {op:42s} s {lat}  jobs {jobs}", file=sys.stderr)
    for i, st in enumerate(runner.setups):
        print(f"perfbench: set-up {i}: " + ", ".join(f"{k} {v:.3f} s" for k, v in st.items()),
              file=sys.stderr)
    for op, why in runner.failures.items():
        print(f"perfbench: {op} failed: {why}", file=sys.stderr)
    report(result, real_stdout, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
