"""Benchmark of the engine: the paper's daily incremental ETL and a mixed
analytics pass, timed end to end and, in a traced run, layer by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

The load is a closed loop with one client: this one driver process issues
one ETL run or one query at a time, on ``local[<cpus>]`` with
``SPARK_GRAFT_CPUS`` set to the number of usable cpus. The engine is driven
only through its public entry points (``session.get_spark``,
``pipeline.register_source``, ``pipeline.run_etl``, ``plans.QUERIES`` and a
forced noop write); outputs are checked outside the timed passes, against
exact ETL counts, the ETL's golden oracle and DuckDB
(``tools/parity.py``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics of ``BENCHMARK.json`` with ``--trace 1``). The line
before it is the run's full record: cpus, seed, sf, Spark version, every
sample, and the failed share. Exits 2 without a result when the engine
package is not beside the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "youtube_api_data_etl_automation_spark"

# Set-ups per run; setup_s is their median. Only the first one starts the
# JVM and the SparkContext (session.cold_start_s); the later ones find the
# session running. Stopping it in between would make each of them pay a
# fresh context's Python-worker and source start-up again (about 10 s for
# the ETL on 4 cores), which a run's time budget cannot hold.
SETUPS = 3
VIDEOS_PER_CHANNEL = 120  # the fake transport's playlist length


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and of the per-layer metrics, by name, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Op:
    """Runs and counts operations: one query, one ETL run or one check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed: list[str] = []

    def __call__(self, label: str, fn, *args):
        self.attempted += 1
        try:
            return True, fn(*args)
        except Exception as e:  # noqa: BLE001 -- a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed.append(f"{label}: {type(e).__name__}: {str(e)[:200]}")
            return False, None


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------


class EtlDaily:
    """The paper's job, ``pipeline.run_etl`` with the fake transport.

    A pass uses a fresh warehouse and makes three runs: a first load of
    ``first`` channels, a delta run that adds ``delta`` channels, and a
    no-op rerun that finds no new video. Channel ids and the transport
    seed come from the seed."""

    name = "etl_daily"
    sf = None

    def __init__(self, seed: int, work: str, smoke: bool) -> None:
        self.seed = seed
        self.work = work
        self.first, self.delta = (2, 1) if smoke else (6, 1)
        rng = random.Random(seed)
        ids = set()
        while len(ids) < 2 * self.first + self.delta:
            ids.add(f"UC{rng.getrandbits(40):010x}")
        ids = sorted(ids)
        # The warm-up loads as many channels as a first load, other ones.
        self.warm_ids, self.ids = ids[:self.first], ids[self.first:]
        self.n_pass = 0
        self.count_errors: list[str] = []
        self.last_warehouse = None

    def describe(self) -> dict:
        return {"channels_first": self.first, "channels_delta": self.delta,
                "transport_seed": self.seed}

    def _warehouse(self, tag: str) -> str:
        return tempfile.mkdtemp(prefix=f"{tag}-", dir=self.work)

    def prepare(self) -> None:
        pass

    def warm_up(self, spark, op: Op) -> None:
        from youtube_api_data_etl_automation_spark.pipeline import run_etl

        wh = self._warehouse("warm")
        op("warmup:etl", run_etl, spark, self.warm_ids, wh, "fake", self.seed)
        shutil.rmtree(wh, ignore_errors=True)

    def expected(self) -> dict[str, dict[str, int]]:
        n1, n2 = self.first, self.first + self.delta
        v1, v2 = n1 * VIDEOS_PER_CHANNEL, n2 * VIDEOS_PER_CHANNEL
        return {
            "first": {"channels": n1, "candidate_ids": v1, "new_videos": v1, "loaded": v1},
            "delta": {"channels": n2, "candidate_ids": v2, "new_videos": v2 - v1,
                      "loaded": v2 - v1},
            "noop": {"channels": n2, "candidate_ids": v2, "new_videos": 0, "loaded": 0},
        }

    def run_pass(self, spark, op: Op, tracer=None) -> dict:
        """One first/delta/no-op sequence; returns wall times by run."""
        from youtube_api_data_etl_automation_spark import pipeline

        from spans import etl_stages

        if self.last_warehouse:
            shutil.rmtree(self.last_warehouse, ignore_errors=True)
        wh = self.last_warehouse = self._warehouse("etl")
        self.n_pass += 1
        walls, spans = {}, {}
        plan = [("first", self.ids[:self.first]), ("delta", self.ids),
                ("noop", self.ids)]
        for run, channels in plan:
            t0 = time.perf_counter()
            if tracer is None:
                ok, counts = op(f"etl:{run}", pipeline.run_etl, spark, channels,
                                wh, "fake", self.seed)
            else:
                with tracer.span(f"run:{run}", run=f"{self.n_pass}:{run}") as s, \
                        etl_stages(tracer, pipeline):
                    ok, counts = op(f"etl:{run}", pipeline.run_etl, spark,
                                    channels, wh, "fake", self.seed)
                spans[run] = s
            walls[run] = time.perf_counter() - t0
            if ok and counts != self.expected()[run]:
                self.count_errors.append(
                    f"pass {self.n_pass} {run}: {counts} != {self.expected()[run]}")
        return {"wall": sum(walls.values()), "ops": walls, "spans": spans}

    def check(self, spark, op: Op) -> dict[str, str]:
        """Counts of every pass (taken as they ran), the sinks of the last
        pass, and the golden oracle of the reference ETL."""
        from tools.parity import compare, duck_connection

        out = {}
        ok = not self.count_errors
        op.attempted += 1
        if not ok:
            op.failed.append("check:etl_counts: " + "; ".join(self.count_errors))
        out["etl_counts"] = "ok" if ok else "; ".join(self.count_errors)

        def sinks():
            n2 = self.first + self.delta
            wh = self.last_warehouse
            videos = spark.read.parquet(os.path.join(wh, "video_stats"))
            got = (videos.select("videoId").distinct().count(),
                   spark.read.parquet(os.path.join(wh, "channel_stats")).count())
            want = (n2 * VIDEOS_PER_CHANNEL, n2)
            if got != want:
                raise AssertionError(f"distinct videoIds, channel rows {got} != {want}")
            return f"ok {got}"

        ok, msg = op("check:etl_sinks", sinks)
        out["etl_sinks"] = msg if ok else op.failed[-1]

        def golden():
            con = duck_connection(self.work_tables())
            con.execute("SET memory_limit='1GB'")
            good, msg = compare("reference_etl_video_stats", spark, con, "unused")
            if not good:
                raise AssertionError(msg)
            return msg

        ok, msg = op("check:reference_etl_video_stats", golden)
        out["reference_etl_video_stats"] = msg if ok else op.failed[-1]
        return out

    def work_tables(self) -> str:
        # tools.parity.duck_connection binds a view per engine table, so it
        # needs a table directory even for the golden (literal) oracle.
        import datagen

        path = os.path.join(self.work, "tables-sf0.001")
        if not os.path.isdir(path):
            datagen.write(path, 0.001, self.seed)
        return path

    def layers(self, passes: list[dict], tracer, cores: int) -> dict[str, float]:
        from spans import subtree, total

        out = {}
        for run in ("first", "delta", "noop"):
            rows = []
            for p in passes:
                root = p["spans"][run]
                tree = subtree(root, tracer.spans)
                by = {}
                for s in tree[1:]:
                    by.setdefault(s.name, []).append(s)
                self_s = lambda n: sum(s.self_s for s in by.get(n, []))  # noqa: E731
                sub = lambda n: [t for s in by.get(n, []) for t in subtree(s, tracer.spans)]  # noqa: E731
                task_s = total(tree, "task_s")
                rows.append({
                    "wall_s": root.duration,
                    "E1_s": self_s("E1"), "E2_s": self_s("E2"),
                    "E2_tasks": total(sub("E2"), "tasks"),
                    "J1_s": self_s("J1"), "stage_ids_s": self_s("stage_ids"),
                    "L1_s": self_s("L1"), "L1_tasks": total(sub("L1"), "tasks"),
                    "L2_s": self_s("L2"), "other_s": root.self_s,
                    "jobs": total(tree, "jobs"), "task_s": task_s,
                    "core_util": task_s / (root.duration * cores),
                })
            for key in rows[0]:
                out[f"etl.{run}.{key}"] = median([r[key] for r in rows])
        sink = os.path.join(self.last_warehouse, "video_stats")
        files = [os.path.join(d, f) for d, _, fs in os.walk(sink) for f in fs
                 if f.endswith(".parquet")]
        out["etl.sink_files"] = len(files)
        out["etl.sink_mb"] = sum(os.path.getsize(f) for f in files) / 2**20
        return out


class Analytics:
    """One pass over a fixed query list at ``sf``; the seed makes the
    tables and sets the query order of every pass."""

    name = "analytics"
    # Construct-bound: the driver builds the plan with eager jobs and
    # iterative loops, so construct is most of the query's time.
    DRIVER_BOUND = ["mixing_temperature"]
    # Execution-bound: scans, shuffles, windows and regex work in tasks.
    EXEC_BOUND = ["iso_duration_seconds", "window_distribution_stats"]

    def __init__(self, seed: int, work: str, smoke: bool) -> None:
        self.seed = seed
        self.work = work
        self.sf = 0.001 if smoke else 0.01
        self.queries = self.DRIVER_BOUND + self.EXEC_BOUND
        self.n_pass = 0

    def describe(self) -> dict:
        return {"queries": self.queries}

    def prepare(self) -> None:
        import datagen

        self.sf_dir = datagen.write(
            os.path.join(self.work, f"tables-sf{self.sf}"), self.sf, self.seed)

    def order(self, n_pass: int) -> list[str]:
        names = list(self.queries)
        random.Random(f"{self.seed}:{n_pass}").shuffle(names)
        return names

    @staticmethod
    def force(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    def _query(self, spark, name: str, sf_dir: str) -> None:
        from youtube_api_data_etl_automation_spark.plans import QUERIES

        self.force(QUERIES[name](spark, sf_dir))

    def warm_up(self, spark, op: Op) -> None:
        for name in self.queries:
            op(f"warmup:{name}", self._query, spark, name, self.sf_dir)
            spark.catalog.clearCache()

    def run_pass(self, spark, op: Op, tracer=None) -> dict:
        self.n_pass += 1
        sf_dir = self.sf_dir
        walls, records = {}, {}
        for name in self.order(self.n_pass):
            t0 = time.perf_counter()
            if tracer is None:
                op(f"query:{name}", self._query, spark, name, sf_dir)
            else:
                ok, records[name] = op(f"query:{name}", self._traced_query, spark,
                                       tracer, name, sf_dir)
            walls[name] = time.perf_counter() - t0
            spark.catalog.clearCache()
            if records.get(name):
                records[name].update(cache_probe(spark))
        return {"wall": sum(walls.values()), "ops": walls, "records": records}

    def _traced_query(self, spark, tracer, name: str, sf_dir: str) -> dict:
        from youtube_api_data_etl_automation_spark.plans import QUERIES

        from spans import Py4JCounter

        run = f"{self.n_pass}:{name}"
        with tracer.span(f"query:{name}", run=run):
            with Py4JCounter() as calls, tracer.span("construct") as construct:
                df = QUERIES[name](spark, sf_dir)
            qe = df._jdf.queryExecution()
            analysis = phase_s(qe, "analysis")
            with tracer.span("catalyst"):
                qe.executedPlan()
            phases = {p: phase_s(qe, p) for p in ("optimization", "planning")}
            with tracer.span("force") as force:
                self.force(df)
        tracer.collect_jobs([construct, force])
        return {"construct": construct, "force": force, "py4j": calls.calls,
                "analysis_s": analysis, **phases}

    def check(self, spark, op: Op) -> dict[str, str]:
        """DuckDB parity of every query at the measured sf."""
        from tools.parity import compare, duck_connection

        sf_dir = self.sf_dir
        con = duck_connection(sf_dir)
        con.execute("SET memory_limit='1GB'")
        con.execute("SET threads=2")
        out = {}
        for name in self.queries:
            def parity(name=name):
                good, msg = compare(name, spark, con, sf_dir)
                if not good:
                    raise AssertionError(msg)
                return msg
            ok, msg = op(f"check:{name}", parity)
            out[name] = msg if ok else op.failed[-1]
            spark.catalog.clearCache()
        return out

    def layers(self, passes: list[dict], tracer, cores: int) -> dict[str, float]:
        rows = []
        for p in passes:
            recs = [r for r in p["records"].values() if r]
            c = lambda k: sum(r["construct"].jobs.get(k, 0) for r in recs)  # noqa: E731
            f = lambda k: sum(r["force"].jobs.get(k, 0) for r in recs)  # noqa: E731
            force_s = sum(r["force"].duration for r in recs)
            last = recs[-1] if recs else {}
            rows.append({
                "plans.construct_s": sum(r["construct"].duration for r in recs),
                "plans.construct_jobs": c("jobs"),
                "plans.construct_task_s": c("task_s"),
                "plans.py4j_calls": sum(r["py4j"] for r in recs),
                "catalyst.analysis_s": sum(r["analysis_s"] for r in recs),
                "catalyst.optimization_s": sum(r["optimization"] for r in recs),
                "catalyst.planning_s": sum(r["planning"] for r in recs),
                "exec.force_s": force_s,
                "exec.jobs": f("jobs"), "exec.tasks": f("tasks"),
                "exec.task_s": f("task_s"), "exec.gc_s": f("gc_s"),
                "exec.core_util": f("task_s") / (force_s * cores) if force_s else 0.0,
                "exec.shuffle_write_mb": f("shuffle_write_mb"),
                "exec.spill_mb": f("spill_mb"),
                "cache.persisted_rdds_after": last.get("persisted_rdds", 0),
                "cache.persisted_mb_after": last.get("persisted_mb", 0.0),
            })
        return {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}


WORKLOADS = {w.name: w for w in (EtlDaily, Analytics)}


def phase_s(qe, phase: str) -> float:
    phases = qe.tracker().phases()
    return phases.apply(phase).durationMs() / 1000.0 if phases.contains(phase) else 0.0


def cache_probe(spark) -> dict:
    """Persisted RDDs left behind, read after the query's clearCache()."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return {"persisted_rdds": jsc.getPersistentRDDs().size(), "persisted_mb": mb}


# --------------------------------------------------------------------------
# Harness
# --------------------------------------------------------------------------


def memory_mb(spark) -> dict[str, float]:
    """Driver memory: peak RSS (the JVM's VmHWM plus this process's
    ru_maxrss) and retained memory (JVM heap left after a full GC, plus its
    non-heap, plus this process's current RSS)."""
    jvm = spark.sparkContext._jvm
    jvm_hwm_kb = proc_status_kb(jvm.java.lang.ProcessHandle.current().pid(), "VmHWM")
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm_kept = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return {
        "peak_rss_mb": (jvm_hwm_kb
                        + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0,
        "retained_mb": jvm_kept / 2**20 + proc_status_kb("self", "VmRSS") / 1024.0,
    }


def proc_status_kb(pid, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(key + ":"))


def pass_seconds(passes: list[dict]) -> float:
    """One pass's time, robust to a slow sample: for each operation of the
    pass (an ETL run, a query) its median over the run's passes, summed."""
    ops = passes[0]["ops"]
    return sum(median([p["ops"][name] for p in passes]) for name in ops)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 smoke: bool, work: str) -> None:
        self.w = WORKLOADS[workload](seed, work, smoke)
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.smoke = smoke
        self.cores = usable_cpus()
        self.op = Op()
        self.spark = None
        self.setups: list[dict] = []

    def setup(self) -> None:
        """Session start, source registration and warm-up."""
        from youtube_api_data_etl_automation_spark.pipeline import register_source
        from youtube_api_data_etl_automation_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.w.name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        register_source(self.spark)
        t1 = time.perf_counter()
        self.w.warm_up(self.spark, self.op)
        t2 = time.perf_counter()
        self.setups.append({"start_s": t1 - t0, "warmup_s": t2 - t1, "total_s": t2 - t0})

    def passes(self, tracer=None) -> tuple[list[dict], list[dict]]:
        """Passes until ``seconds`` have elapsed. With a tracer, each
        untraced pass is followed by a traced one for twice the time, so
        both kinds see the same warm-up and their difference is the
        tracing overhead."""
        timed, traced = [], []
        deadline = time.perf_counter() + self.seconds * (2 if tracer else 1)
        while not timed or time.perf_counter() < deadline:
            timed.append(self.w.run_pass(self.spark, self.op))
            if tracer is not None:
                traced.append(self.w.run_pass(self.spark, self.op, tracer))
        return timed, traced

    def run(self) -> tuple[dict, dict]:
        clock = [time.perf_counter()]
        phases = {}

        def lap(name):
            clock.append(time.perf_counter())
            phases[name] = clock[-1] - clock[-2]

        self.w.prepare()
        lap("inputs")
        for _ in range(1 if self.smoke else SETUPS):
            self.setup()
        lap("setups")
        tracer = None
        if self.trace:
            from spans import Tracer

            tracer = Tracer(self.spark, f"perfbench-{os.getpid()}")
        timed, traced = self.passes(tracer)
        lap("passes")
        record = {
            "workload": self.w.name, "seed": self.seed, "cpus": self.cores,
            "sf": self.w.sf, "spark": self.spark.version, **self.w.describe(),
            "setups": self.setups,
            "pass_walls_s": [p["wall"] for p in timed],
            "ops": [p["ops"] for p in timed],
        }
        memory = memory_mb(self.spark)
        record["memory"] = memory
        metrics = {
            "setup_s": median([s["total_s"] for s in self.setups]),
            "pass_s": pass_seconds(timed),
            "retained_mb": memory["retained_mb"],
        }
        layers = None
        if tracer is not None:
            if isinstance(self.w, EtlDaily):
                tracer.collect_jobs(tracer.spans)
            layers = self.layer_metrics(traced, tracer, metrics["pass_s"], memory)
            record["traced_ops"] = [p["ops"] for p in traced]
        record["checks"] = self.w.check(self.spark, self.op)
        lap("checks")
        record["phases_s"] = phases
        record["attempted"], record["failed"] = self.op.attempted, self.op.failed
        record["failed_ratio"] = len(self.op.failed) / self.op.attempted
        record["metrics"] = metrics
        if layers is not None:
            record["layers"] = layers
        return record, layers

    def layer_metrics(self, traced: list[dict], tracer, untraced_pass_s: float,
                      memory: dict) -> dict:
        # Layers a workload does not reach read 0.
        per_layer = metric_units()[1]
        out = dict.fromkeys(per_layer, 0.0)
        out.update({
            "session.start_s": median([s["start_s"] for s in self.setups]),
            "session.warmup_s": median([s["warmup_s"] for s in self.setups]),
            "session.cold_start_s": self.setups[0]["total_s"],
            "trace.overhead_s": pass_seconds(traced) - untraced_pass_s,
            "mem.peak_rss_mb": memory["peak_rss_mb"],
        })
        out.update(self.w.layers(traced, tracer, self.cores))
        unknown = set(out) - set(per_layer)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        return out


def configure_env(work: str) -> None:
    """Fit the engine to this box and keep every file it writes in ``work``."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(usable_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    # Python workers import the engine package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={work} -XX:-UsePerfData' "
        "pyspark-shell")


def stop_jvm() -> None:
    """End the JVM this process launched and wait for it: it exits when
    its stdin closes, and its Python workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one set-up, for the self-tests")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"perfbench: engine package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    cwd = os.getcwd()
    bench = None
    try:
        configure_env(work)
        os.chdir(work)
        for p in (ROOT, HERE):
            if p not in sys.path:
                sys.path.insert(0, p)
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                      args.smoke, work)
        record, layers = bench.run()
    finally:
        if bench is not None and bench.spark is not None:
            bench.spark.stop()
        stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    end_to_end, per_layer = metric_units()
    units = per_layer if layers is not None else end_to_end
    values = layers if layers is not None else record["metrics"]
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": not record["failed"],
                      "attempted": record["attempted"],
                      "failed": len(record["failed"]),
                      "metrics": {k: {"value": values[k], "unit": u}
                                  for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
