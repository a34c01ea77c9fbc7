"""One benchmark run inside one Spark driver process (started by run.py).

Phases, in order:

1. set-up (timed as ``setup_s``): generate the inputs, start the session
   (``get_spark``), build the ``SparkEngine`` for flow workloads,
   ``load_tables``, then the check pass less the checker's own work;
2. check pass: every item once, its collected output compared with the
   DuckDB oracle (queries) or with the digest in ``expected.json``
   (flows). It warms the JVM at the measured scale; the time spent on
   the oracle, canonicalisation and comparison is left out of
   ``setup_s``;
3. timed passes: a single client runs the items back to back in the
   seeded order (a closed loop) until ``--seconds`` have passed and
   every item has run at least once. Shared operator caches are
   cleared before each pass, so each pass pays its own shared builds.
   Each item run gives a latency and the CPU seconds every process of
   the run used meanwhile (``session_cpu_s``). A run that raises gives
   no sample and makes the result incorrect.

End-to-end metrics (``--trace 0``): ``cpu_s``, the CPU seconds of one
pass (the sum of each item's median), and ``setup_s``. The pass's wall
time (``wall_s``) is printed in the context line; on a host shared with
other guests it follows their load, while CPU time does not count the
time the hypervisor gives them.

With ``--trace 1`` timed passes alternate between untraced and traced
(spans recorded, see ``spans.py``); the per-layer metrics come from the
traced passes and ``trace.overhead_s`` compares the two kinds.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import hashlib
import itertools
import json
import math
import os
import statistics
import sys
import tempfile
import time

import datagen
import spans as tr
import workloads

SF = 0.01
DATA_SEED = 42  # the inputs are fixed; the workload seed permutes items
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")


def _rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def session_cpu_s() -> float:
    """CPU seconds used so far by every process of this run's session
    (the driver JVM, this process and any Python workers), reaped
    children included. A guest kernel does not charge hypervisor steal
    to a process, so other guests' load moves this far less than wall
    time."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        if int(f[3]) == sid:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _rounded(v):
    if isinstance(v, float):
        return float(f"{v:.9g}") if math.isfinite(v) else v
    if isinstance(v, (list, tuple)):
        return [_rounded(x) for x in v]
    if isinstance(v, dict):
        return {k: _rounded(x) for k, x in v.items()}
    return v


def digest(df) -> dict:
    """Order-insensitive digest of a result; doubles are compared to nine
    significant digits because Spark sums them in partition order."""
    from oracle_check import canon_rows

    cols = [f.name for f in df.schema.fields]
    rows = [tuple(_rounded(x) for x in r) for r in df.collect()]
    _, canon = canon_rows(cols, rows)
    h = hashlib.sha256(json.dumps([sorted(cols), canon]).encode()).hexdigest()
    return {"rows": len(rows), "sha256": h[:32]}


class Collected:
    """A result collected once: ``schema`` and ``collect()`` as on the
    DataFrame, so the checker reuses the rows instead of running the
    plan again."""

    def __init__(self, df):
        self.schema = df.schema
        self.rows = df.collect()

    def collect(self):
        return self.rows


class Runner:
    def __init__(self, workload: str, data_dir: str):
        from ankaflow_spark.operators import collect_all
        from ankaflow_spark.operators.tables import load_tables
        from ankaflow_spark.session import get_spark

        self.workload = workload
        self.kind = workloads.WORKLOADS[workload][0]
        self.data_dir = data_dir
        self.tracer: tr.Tracer | None = None
        t0 = time.time()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.abspath("warehouse"),
                # the JVM ignores TMPDIR: stream checkpoints and RocksDB
                # scratch go to java.io.tmpdir
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
                # keep every job and stage of a run for the traced read
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_start_s = time.time() - t0
        self.engine = None
        if self.kind == "flow":
            from ankaflow_spark.session import SparkEngine

            self.engine = SparkEngine(self.spark)
        load_tables(self.spark, data_dir)
        self.queries, self.oracles = collect_all()
        self.out_root = os.path.abspath("flow_out")

    # -- one item ---------------------------------------------------------
    def build(self, name: str):
        """The item's result DataFrame, with all of its eager work done."""
        if self.kind == "query":
            with self._span("operators.build"):
                return self.queries[name](self.spark, self.data_dir)
        from ankaflow_spark.models.core import Stages
        from ankaflow_spark.plans.flow import Flow

        os.makedirs(self.out_root, exist_ok=True)
        out = tempfile.mkdtemp(prefix=f"{name}_", dir=self.out_root)
        path = os.path.join(CHECKOUT, "examples", f"{name}.yaml")
        variables = {"data_dir": self.data_dir, "out_dir": out, "out": out}
        return Flow(Stages.load(path), engine=self.engine, variables=variables).run()

    def run_item(self, name: str) -> None:
        df = self.build(name)
        if df is not None:
            with self._span("operators.action" if self.kind == "query" else "plans.tail_action"):
                df.write.format("noop").mode("overwrite").save()

    def _span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def files_since(self, t0: float) -> int:
        """Data files under the flow outputs and the warehouse that were
        written after ``t0``."""
        n = 0
        for top in (self.out_root, os.path.abspath("warehouse")):
            for d, _, names in os.walk(top):
                for f in names:
                    if f[0] not in "._" and os.path.getmtime(os.path.join(d, f)) >= t0:
                        n += 1
        return n

    def clear_outputs(self) -> None:
        import shutil

        shutil.rmtree(self.out_root, ignore_errors=True)

    def new_pass(self) -> None:
        from ankaflow_spark.operators import clear_shared_caches

        clear_shared_caches(self.spark)
        self.clear_outputs()

    # -- check pass -------------------------------------------------------
    def check(self, order, record: bool) -> list:
        """Run each item once and compare its output; return failures.

        This pass also warms the JVM at the measured scale. Each item's
        result is collected once (the program's work); the time spent
        after that on the oracle, canonicalisation and comparison (the
        checker's work) is added to ``self.check_s``."""
        failures = []
        expected = {}
        self.check_s = 0.0
        t0 = time.time()
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as fh:
                expected = json.load(fh)
        con = None
        if self.kind == "query":
            import duckdb
            from oracle_check import TABLES

            con = duckdb.connect()
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        self.check_s += time.time() - t0
        self.new_pass()
        for name in order:
            t0 = None
            try:
                got = Collected(self.build(name))
                t0 = time.time()
                if self.kind == "query":
                    from oracle_check import compare

                    with contextlib.redirect_stdout(sys.stderr):
                        ok = compare(name, got, con.sql(self.oracles[name]))
                    if not ok:
                        failures.append(name)
                    continue
                got = digest(got)
                if record:
                    expected[name] = got
                elif expected.get(name) != got:
                    print(f"check {name}: got {got}, expected {expected.get(name)}", file=sys.stderr)
                    failures.append(name)
            except Exception as e:  # an item that raises is a failed item
                print(f"check {name} raised {type(e).__name__}: {e}", file=sys.stderr)
                failures.append(name)
            finally:
                if t0 is not None:
                    self.check_s += time.time() - t0
        t0 = time.time()
        if record:
            with open(EXPECTED, "w") as fh:
                json.dump(dict(sorted(expected.items())), fh, indent=1)
                fh.write("\n")
        if con is not None:
            con.close()
        self.check_s += time.time() - t0
        return failures

    # -- timed passes -----------------------------------------------------
    def measure(self, order, seconds: float, tracer: tr.Tracer | None = None):
        """Closed-loop passes until ``seconds`` have elapsed and every item
        ran once. With a tracer, passes alternate untraced and traced and
        the loop runs until both kinds ran every item.

        Returns ``(samples, cpu, failed, roots)``: ``samples[traced][item]``
        is a list of latencies of the runs that did not raise, ``cpu`` the
        CPU seconds of the same runs, and ``roots`` the traced item spans."""
        modes = (False, True) if tracer else (False,)
        samples = {m: {n: [] for n in order} for m in modes}
        cpu = {m: {n: [] for n in order} for m in modes}
        ran = set()
        failed = 0
        roots = []
        deadline = time.time() + seconds
        for p in itertools.count():
            traced = modes[p % len(modes)]
            self.tracer = tracer if traced else None
            if tracer:
                tracer.enabled = traced
            self.new_pass()
            for name in order:
                if time.time() >= deadline and len(ran) == len(modes) * len(order):
                    self.tracer = None
                    if tracer:
                        tracer.enabled = False
                    return samples, cpu, failed, roots
                c0 = session_cpu_s()
                t0 = time.time()
                sp = tracer.begin("item") if traced else None
                try:
                    self.run_item(name)
                    samples[traced][name].append(time.time() - t0)
                    cpu[traced][name].append(session_cpu_s() - c0)
                except Exception as e:
                    failed += 1
                    print(f"{name} raised {type(e).__name__}: {e}", file=sys.stderr)
                finally:
                    ran.add((traced, name))
                    if sp is not None:
                        tracer.end(sp)
                        sp.files = self.files_since(t0)
                        roots.append(sp)


def one_pass(samples) -> float:
    """One pass: the sum of each item's median (latency or CPU seconds;
    an item whose every run raised adds nothing, and the run is reported
    incorrect)."""
    return sum(statistics.median(v) for v in samples.values() if v)


def end_to_end(cpu, setup_s: float) -> dict:
    return {
        "cpu_s": {"value": one_pass(cpu), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def _progress_ts(p) -> float:
    return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def per_layer(runner: Runner, roots, order, untraced, traced, setup_spans, batches, rss) -> dict:
    """Per-layer numbers from the traced passes, scaled to one pass."""
    spark = runner.spark
    tr.drain_listeners(spark)
    jobs = tr.spark_jobs(spark)
    stages = [s for s in tr.spark_stages(spark) if s.get("status") in ("COMPLETE", "FAILED")]
    passes = max(1e-9, len(roots) / len(order))
    selfs: dict = {}
    counts: dict = {}
    stage_sum: dict = {}
    err = 0.0
    build_jobs = 0
    n_jobs = 0
    job_union = 0.0
    wall = 0.0
    files = 0
    for root in roots:
        tr.attach_jobs(root, jobs)
        item_self: dict = {}
        tr.self_times(root, item_self)
        err = max(err, abs(sum(item_self.values()) - (root.end - root.start)))
        for k, v in item_self.items():
            selfs[k] = selfs.get(k, 0.0) + v
        wall += root.end - root.start
        for sp in tr.walk(root):
            counts[sp.name] = counts.get(sp.name, 0) + 1
            n_jobs += len(sp.jobs)
            if sp.name == "operators.build":
                build_jobs += sum(len(x.jobs) for x in tr.walk(sp))
        job_union += tr.length(
            tr.union(
                [
                    (j["submissionTime"] / 1000.0, min(root.end, j["completionTime"] / 1000.0))
                    for sp in tr.walk(root)
                    for j in sp.jobs
                    if j.get("completionTime") is not None
                ]
            )
        )
        lo, hi = root.start * 1000.0, root.end * 1000.0
        for s in stages:
            sub = s.get("submissionTime")
            if sub is not None and lo <= sub <= hi:
                for k in (
                    "executorRunTime", "executorCpuTime", "numTasks", "numFailedTasks",
                    "inputBytes", "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
                    "memoryBytesSpilled", "diskBytesSpilled",
                ):
                    stage_sum[k] = stage_sum.get(k, 0) + (s.get(k) or 0)
                stage_sum["stages"] = stage_sum.get("stages", 0) + 1
        files += root.files
    in_items = [b for b in batches if any(r.start <= _progress_ts(b) <= r.end for r in roots)]
    batch_s = sorted(b["durationMs"].get("triggerExecution", 0) / 1000.0 for b in in_items)
    mb = 1024.0 * 1024.0

    def per_pass(x):
        return x / passes

    def s(name):
        return per_pass(selfs.get(name, 0.0))

    out = {
        "session.start_s": (runner.session_start_s, "s"),
        "functions.register_s": (
            sum((sp.end - sp.start for sp in setup_spans if sp.name == "functions.register"), 0.0), "s"),
        "session.materialize_s": (s("session.materialize"), "s"),
        "session.materialize_calls": (per_pass(counts.get("session.materialize", 0)), "count"),
        "session.sql_s": (s("session.sql"), "s"),
        "session.sql_calls": (per_pass(counts.get("session.sql", 0)), "count"),
        "session.write_bucketed_s": (s("session.write_bucketed"), "s"),
        "models.load_s": (s("models.load"), "s"),
        "plans.render_s": (s("plans.render"), "s"),
        "plans.tail_action_s": (s("plans.tail_action"), "s"),
        "sqlfront.rewrite_s": (s("sqlfront.rewrite"), "s"),
        "sqlfront.rewrite_calls": (per_pass(counts.get("sqlfront.rewrite", 0)), "count"),
        "sources.tap_s": (s("sources.tap"), "s"),
        "sources.sink_s": (s("sources.sink"), "s"),
        "sources.bytes_written": (per_pass(stage_sum.get("outputBytes", 0)), "bytes"),
        "sources.files_written": (per_pass(files), "count"),
        "operators.build_s": (s("operators.build"), "s"),
        "operators.action_s": (s("operators.action"), "s"),
        "operators.build_jobs": (per_pass(build_jobs), "count"),
        "streaming.batches": (per_pass(len(in_items)), "count"),
        "streaming.batch_p50_s": (statistics.median(batch_s) if batch_s else 0.0, "s"),
        "streaming.trigger_s": (per_pass(sum(batch_s)), "s"),
        "streaming.addbatch_s": (
            per_pass(sum(b["durationMs"].get("addBatch", 0) for b in in_items) / 1000.0), "s"),
        "spark.jobs": (per_pass(n_jobs), "count"),
        "spark.stages": (per_pass(stage_sum.get("stages", 0)), "count"),
        "spark.tasks": (per_pass(stage_sum.get("numTasks", 0)), "count"),
        "spark.job_s": (s("spark.job"), "s"),
        "spark.driver_gap_s": (per_pass(wall - job_union), "s"),
        "spark.executor_run_s": (per_pass(stage_sum.get("executorRunTime", 0) / 1000.0), "s"),
        "spark.executor_cpu_s": (per_pass(stage_sum.get("executorCpuTime", 0) / 1e9), "s"),
        "spark.parallelism": (
            stage_sum.get("executorRunTime", 0) / 1000.0 / job_union if job_union else 0.0, "ratio"),
        "spark.shuffle_read_mb": (per_pass(stage_sum.get("shuffleReadBytes", 0) / mb), "MB"),
        "spark.shuffle_write_mb": (per_pass(stage_sum.get("shuffleWriteBytes", 0) / mb), "MB"),
        "spark.spill_mb": (
            per_pass((stage_sum.get("memoryBytesSpilled", 0) + stage_sum.get("diskBytesSpilled", 0)) / mb), "MB"),
        "spark.input_mb": (per_pass(stage_sum.get("inputBytes", 0) / mb), "MB"),
        "spark.failed_tasks": (per_pass(stage_sum.get("numFailedTasks", 0)), "count"),
        "bench.item_self_s": (s("item"), "s"),
        "driver.peak_rss_mb": (rss["jvm"] + rss["python"], "MB"),
        "trace.self_sum_err_s": (err, "s"),
        "trace.wall_s": (one_pass(traced), "s"),
        "trace.overhead_s": (one_pass(traced) - one_pass(untraced), "s"),
    }
    for kind in ("tap", "transform", "operator", "sink", "internal", "stream"):
        out[f"plans.stage_s.{kind}"] = (s(f"plans.stage.{kind}"), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def cache_state() -> dict:
    """Entries left in the engine's module-level caches right after
    ``clear_shared_caches``: what a later pass (or run, in a long-lived
    process) inherits."""
    from ankaflow_spark.operators import dedup, relational, streamq, tables, textops

    out = {}
    for mod, attr in (
        (dedup, "_MATERIALIZED"), (dedup, "_LAYOUT_TABLES"), (relational, "_LAYOUT_TABLES"),
        (textops, "_T13_MATERIALIZED"), (tables, "_DF_CACHE"), (streamq, "_ST29_LAST_METRICS"),
    ):
        out[f"{mod.__name__.rsplit('.', 1)[-1]}.{attr}"] = len(getattr(mod, attr, {}))
    return out


def main(argv=None) -> int:
    t_start = float(os.environ.get("PERFBENCH_T0", time.time()))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="rewrite expected.json from this run")
    args = ap.parse_args(argv)

    order = workloads.item_order(args.workload, args.seed)
    tracer = None
    if args.trace:
        # installed before set-up so Fn registration is traced too
        tracer = tr.Tracer()
        tracer.install()
    data_dir = datagen.write(os.path.abspath("data"), SF, DATA_SEED)
    print(f"perfbench: inputs ready at {time.time() - t_start:.1f}s", file=sys.stderr)
    runner = Runner(args.workload, data_dir)
    print(f"perfbench: session ready at {time.time() - t_start:.1f}s", file=sys.stderr)
    setup_spans = list(tracer.roots) if tracer else []
    if tracer:
        tracer.enabled = False
    failures = runner.check(order, args.record)
    setup_s = time.time() - t_start - runner.check_s
    print(f"perfbench: checked at {time.time() - t_start:.1f}s, of which "
          f"{runner.check_s:.1f}s checker work", file=sys.stderr)

    batches: list = []
    if tracer:
        runner.spark.streams.addListener(tr.progress_listener(batches))
    by_mode, cpu, failed_runs, roots = runner.measure(order, args.seconds, tracer)
    jvm_pid = runner.spark._jvm.java.lang.ProcessHandle.current().pid()
    samples = {n: sum((by_mode[m][n] for m in by_mode), []) for n in order}
    rss = {
        "jvm": _rss_mb(jvm_pid),
        "python": _rss_mb("self"),
    }
    if tracer:
        metrics = per_layer(runner, roots, order, by_mode[False], by_mode[True], setup_spans, batches, rss)
    else:
        metrics = end_to_end(cpu[False], setup_s)
    runner.new_pass()
    caches = cache_state()
    version = runner.spark.version
    runner.clear_outputs()
    runner.spark.stop()

    attempted = len(order) + sum(len(v) for v in samples.values()) + failed_runs
    failed = len(failures) + failed_runs
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "order": order,
        "wall_s": one_pass(by_mode[False]),
        "item_median_s": {n: statistics.median(v) for n, v in samples.items() if v},
        "item_samples_s": samples,
        "item_cpu_s": {n: sum((cpu[m][n] for m in cpu), []) for n in order},
        "check_failures": failures,
        "check_s": runner.check_s,
        "failed_frac": failed / attempted,
        "caches_after_clear": caches,
        "peak_rss_mb": rss,
        "sf": SF,
        "nproc": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": version,
        "shuffle_partitions": os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"),
    }
    print(json.dumps({"context": context}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
