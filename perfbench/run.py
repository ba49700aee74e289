"""Benchmark entry point.

    python3 perfbench/run.py --workload ram_job --seed 1 --seconds 8 --trace 0

Runs one workload closed-loop from this process on
``local[$SPARK_GRAFT_CPUS]`` (default: the number of usable cores), checks
every unit's output, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` installs the span wrappers and the Spark
event log and reports the per-layer metrics instead. The line before it is
the run stamp (workload, seed, load average, versions, selection).

Every file the run writes lives under ``.perfbench_work/`` in the checkout
and is removed when the run ends. See perfbench/README.md.
"""

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
# Longest wait for the previous unit's storage to be released. Spark frees
# checkpoints and persisted blocks asynchronously, after a JVM GC; on the
# operators workload that took 0.2 s to over 20 s per unit, so the bound
# trades isolation against run time.
RELEASE_BOUND_S = 1.5
_MB = 1024.0 * 1024.0

# Untimed warm-up passes before the first timed unit, and the fewest timed
# passes a run makes. A run is kept near one minute, so ram_job times two
# passes of one unit each and operators one pass of four units.
WARMUP_PASSES = {"ram_job": 1, "operators": 1}
MIN_PASSES = {"ram_job": 2, "operators": 1}

# span layer -> (module, functions); None = every public function
SPAN_LAYERS = {
    "catalog.load_tables": ("ram_datapipeline_spark.catalog", ("load_tables",)),
    "ram_domain": ("ram_datapipeline_spark.ram_domain", None),
    "operators.relational": ("ram_datapipeline_spark.operators.relational", None),
    "operators.spatial": ("ram_datapipeline_spark.operators.spatial", None),
    "operators.eta": ("ram_datapipeline_spark.operators.eta", None),
    "plans.ram_pipeline": ("ram_datapipeline_spark.plans.ram_pipeline", ("run_ram_pipeline",)),
    "streaming.oplog": (
        "ram_datapipeline_spark.streaming.oplog",
        ("OperationLog.start", "OperationLog.log", "OperationLog.flush", "OperationLog.finish"),
    ),
    "sources.osm": ("ram_datapipeline_spark.sources.osm", None),
    "operators.routing": ("ram_datapipeline_spark.operators.routing", None),
    "operators.dedup": ("ram_datapipeline_spark.operators.dedup", None),
    "operators.graph": ("ram_datapipeline_spark.operators.graph", None),
    "operators.similarity": ("ram_datapipeline_spark.operators.similarity", None),
}
SINK_WRITERS = (
    "write_results_normalized", "write_csv", "write_json_grouped",
    "write_geojson_seq", "append_metadata_event",
)
SPAN_LAYERS.update(
    {f"sinks.{w}": ("ram_datapipeline_spark.sinks", (w,)) for w in SINK_WRITERS}
)


def metric_names() -> dict[str, list[tuple[str, str]]]:
    """(name, unit) of every metric, by ``end_to_end`` / ``per_layer``."""
    e2e = [("setup_s", "s"), ("wall_s", "s"), ("unit_p50_s", "s"), ("items_per_s", "1/s")]
    layer = [
        ("suite.build_s", "s"), ("spark.plan_s", "s"), ("spark.execute_s", "s"),
        ("spark.jobs_build", "count"), ("spark.jobs_execute", "count"),
        ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.task_run_s", "s"), ("spark.no_job_s", "s"),
        ("spark.core_busy_frac", "ratio"), ("spark.shuffle_read_mb", "MB"),
        ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
        ("catalog.load_tables.self_s", "s"), ("catalog.load_tables.calls", "count"),
        ("ram_domain.self_s", "s"), ("operators.relational.self_s", "s"),
        ("operators.spatial.self_s", "s"), ("operators.eta.self_s", "s"),
        ("plans.ram_pipeline.s", "s"),
        ("streaming.oplog.self_s", "s"), ("streaming.oplog.calls", "count"),
    ]
    layer += [(f"sinks.{w}_s", "s") for w in SINK_WRITERS]
    layer += [("sinks.bytes_written", "B"), ("sinks.overlap_frac", "ratio"),
              ("sources.osm.self_s", "s")]
    for mod in ("routing", "dedup", "graph", "similarity"):
        layer += [(f"operators.{mod}.self_s", "s"), (f"operators.{mod}.jobs", "count")]
    layer += [
        ("materialize.persist_calls", "count"), ("materialize.checkpoint_calls", "count"),
        ("materialize.retained_mb", "MB"), ("materialize.retained_rdds", "count"),
        ("materialize.release_wait_s", "s"),
    ]
    return {"end_to_end": e2e, "per_layer": layer}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) CPU jiffies since boot, or None off Linux. On a shared
    host, steal is time the hypervisor gave this VM's CPUs to other tenants."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except OSError:
        return None
    return vals[7], sum(vals[:8])


def run_stamp(args, cpus: str) -> dict:
    import pyspark

    try:  # look for a repository at the checkout root only, never above it
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True,
            timeout=10, env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(REPO)},
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    nproc = len(os.sched_getaffinity(0))
    load = os.getloadavg()[0]
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "SPARK_GRAFT_CPUS": cpus,
        "load1_start": round(load, 2), "busy": load > nproc,
        "commit": commit, "pyspark": pyspark.__version__,
    }


# --- the run -----------------------------------------------------------------


class Run:
    """One benchmark run of one workload in this process."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.traced = bool(args.trace)
        self.units: list[dict] = []  # one record per timed unit
        self.passes: list[float] = []
        self.spark = self.tracer = self.counter = None

    def start_session(self):
        from ram_datapipeline_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
        }
        if self.traced:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            # one uncompressed JSON-lines file
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def make_workload(self, spark, sf_dir: str):
        import workloads as W
        from ram_datapipeline_spark import queries as Q

        if self.args.workload == "ram_job":
            return W.ram_job(
                spark, sf_dir, self.work, self.args.seed, Q.REGISTRY["ram_full_job"].oracle
            )
        return W.operators(spark, sf_dir, self.work, self.args.seed)

    def call(self, unit) -> tuple[object, dict, list[int]]:
        """One unit: build, plan, execute. Returns the result handle, the
        phase boundaries (``time.perf_counter()``) and, in the traced run,
        the id of the next Spark job at each boundary, which attributes
        every job to its phase exactly, whichever thread submitted it."""
        t: list[float] = []
        ids: list[int] = []

        def mark():
            t.append(time.perf_counter())
            if self.traced:
                ids.append(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

        mark()
        result = unit.build()
        mark()
        if hasattr(result, "write"):  # a DataFrame still to be forced
            result._jdf.queryExecution().executedPlan()
            mark()
            result.write.format("noop").mode("overwrite").save()
            mark()
        else:
            t += [t[-1], t[-1]]
            ids += ids[-1:] * 2
        phases = {"build": (t[0], t[1]), "plan": (t[1], t[2]), "execute": (t[2], t[3])}
        return result, phases, ids

    def storage(self) -> tuple[float, int]:
        """(MB of cached blocks in memory and on disk, persistent RDD count)."""
        jsc = self.spark.sparkContext._jsc
        mb = sum(
            (info.memSize() + info.diskSize()) / _MB
            for info in jsc.sc().getRDDStorageInfo()
        )
        return mb, jsc.getPersistentRDDs().size()

    def release(self, baseline: tuple[float, int]) -> float:
        """Unit isolation: drop cached data and collect garbage on both
        sides, then wait (at most RELEASE_BOUND_S) until storage is back at
        ``baseline``. Returns the seconds waited."""
        t0 = time.perf_counter()
        while True:
            gc.collect()  # frees py4j handles, so the JVM objects become garbage
            self.spark.catalog.clearCache()
            self.spark.sparkContext._jvm.System.gc()
            mb, n = self.storage()
            if (mb <= baseline[0] and n <= baseline[1]) or (
                time.perf_counter() - t0 > RELEASE_BOUND_S
            ):
                return time.perf_counter() - t0
            time.sleep(0.1)

    def timed_unit(self, unit, wait: float) -> dict:
        """Time one unit, then check its output outside the timed region.
        A unit that raises or fails its check is recorded as failed and the
        run goes on."""
        rec = {"unit": unit.name, "release_wait_s": wait, "ok": False, "items": 0}
        # durations come from the monotonic clock; this offset maps them onto
        # the wall clock the Spark event log stamps jobs and tasks with
        rec["clock_offset"] = time.time() - time.perf_counter()
        t0 = time.perf_counter()
        try:
            result, rec["phases"], rec["job_ids"] = self.call(unit)
        except Exception as exc:
            rec["s"] = time.perf_counter() - t0
            rec["error"] = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
            if self.tracer:
                self.tracer.recorder.reset()
                self.counter.take()
            return rec
        rec["s"] = time.perf_counter() - t0
        rec["retained_mb"], rec["retained_rdds"] = self.storage()
        if self.tracer:
            rec["spans"] = self.tracer.recorder.reset()
            rec["persist"], rec["checkpoint"] = self.counter.take()
            if unit.name == "ram_job":
                out = result[0]
                rec["sink_bytes"] = dir_bytes(out) - dir_bytes(os.path.join(out, "oplog"))
        t_check = time.perf_counter()
        try:
            n = unit.check(result)
            rec["ok"], rec["items"], rec["error"] = True, (n if unit.counts_items else 1), None
        except Exception as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        rec["check_s"] = time.perf_counter() - t_check
        if self.tracer:
            self.tracer.recorder.reset()  # spans of the check are not the unit's
            self.counter.take()
        return rec

    def timed_passes(self, units, baseline: tuple[float, int]) -> None:
        """Whole passes over ``units`` until ``--seconds`` of timed work
        have been measured and at least ``MIN_PASSES`` passes made. Each
        unit is released back to ``baseline`` before it starts."""
        timed = 0.0
        while len(self.passes) < MIN_PASSES[self.args.workload] or timed < self.args.seconds:
            pass_s = 0.0
            for unit in units:
                rec = self.timed_unit(unit, self.release(baseline))
                pass_s += rec["s"]
                self.units.append(rec)
            self.passes.append(pass_s)
            timed += pass_s

    def execute(self) -> dict:
        import datagen
        import workloads as W

        sf = W.RAM_JOB_SF if self.args.workload == "ram_job" else W.OPERATORS_SF
        marks = {"imports": time.perf_counter()}
        sf_dir = datagen.write_tables(os.path.join(self.work, "data"), sf)
        marks["data"] = time.perf_counter()
        self.data_s = marks["data"] - marks["imports"]
        self.spark = spark = self.start_session()
        marks["session"] = time.perf_counter()
        # the fresh session holds no storage; every unit, the warm-up
        # included, is released back to this level
        baseline = self.storage()
        self.stamp["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        if self.traced:
            from tracing import MaterializeCounter, ModuleTracer

            self.tracer, self.counter = ModuleTracer(SPAN_LAYERS), MaterializeCounter()
            self.tracer.install()
            self.counter.install()
        try:
            wl = self.make_workload(spark, sf_dir)
            self.stamp.update(wl.stamp)
            marks["workload"] = time.perf_counter()
            for _ in range(WARMUP_PASSES[wl.name]):
                for unit in wl.units:
                    try:
                        self.call(unit)
                    except Exception:  # the timed call will fail and be counted
                        traceback.print_exc(file=sys.stderr)
            if self.tracer:
                self.tracer.recorder.reset()
                self.counter.take()
            # the release before the first unit is not set-up: it is
            # reported with every other release, as release_wait_s
            self.t_first = marks["warmup"] = time.perf_counter()
            prev = T_PROCESS
            self.stamp["setup_parts_s"] = {}
            for k, t in marks.items():
                self.stamp["setup_parts_s"][k] = round(t - prev, 3)
                prev = t
            self.timed_passes(wl.units, baseline)
        finally:
            if self.tracer:
                self.tracer.uninstall()
                self.counter.uninstall()
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            # the gateway JVM exits at EOF on its stdin; wait for it
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        self.stamp["load1_end"] = round(os.getloadavg()[0], 2)
        return self.layer_metrics() if self.traced else self.e2e_metrics()

    def e2e_metrics(self) -> dict[str, float]:
        unit_s = [u["s"] for u in self.units]
        # generating the input tables is the benchmark's own work, not set-up
        # of the engine
        return {
            "setup_s": self.t_first - T_PROCESS - self.data_s,
            "wall_s": statistics.median(self.passes),
            "unit_p50_s": statistics.median(unit_s),
            "items_per_s": sum(u["items"] for u in self.units) / sum(unit_s),
        }

    def layer_metrics(self) -> dict[str, float]:
        from tracing import jobs_in, parse_event_log, self_intervals, window_stats

        (log_file,) = os.listdir(self.event_dir)
        log = parse_event_log(os.path.join(self.event_dir, log_file))
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        m = {name: 0.0 for name, _ in metric_names()["per_layer"]}
        wall = 0.0
        done = [u for u in self.units if "spans" in u]  # units that returned
        for u in done:
            log_u = log.shifted(u["clock_offset"])
            ph = u["phases"]
            start, end = ph["build"][0], ph["execute"][1]
            wall += end - start
            m["suite.build_s"] += ph["build"][1] - ph["build"][0]
            m["spark.plan_s"] += ph["plan"][1] - ph["plan"][0]
            m["spark.execute_s"] += ph["execute"][1] - ph["execute"][0]
            first, built, _, after = u["job_ids"]
            unit_jobs = [j for j in log_u.jobs if first <= j.job_id < after]
            n_build = sum(1 for j in unit_jobs if j.job_id < built)
            m["spark.jobs_build"] += n_build
            m["spark.jobs_execute"] += len(unit_jobs) - n_build
            m["spark.stages"] += sum(len(j.stages_run) for j in unit_jobs)
            m["spark.tasks"] += sum(j.tasks for j in unit_jobs)
            self.stamp.setdefault("jobs_build_execute", []).append(
                f"{u['unit']}: {n_build}+{len(unit_jobs) - n_build}"
            )
            for k, v in window_stats(log_u, start, end, cores).items():
                m[f"spark.{k}"] += v
            spans = u["spans"]
            selfs = self_intervals(spans)
            for sp, iv in zip(spans, selfs):
                self_s = sum(e - s for s, e in iv)
                if sp.layer.startswith("sinks."):
                    m[f"{sp.layer}_s"] += sp.end - sp.start
                elif sp.layer == "plans.ram_pipeline":
                    m["plans.ram_pipeline.s"] += sp.end - sp.start
                else:
                    m[f"{sp.layer}.self_s"] += self_s
                if f"{sp.layer}.calls" in m:
                    m[f"{sp.layer}.calls"] += 1
                if f"{sp.layer}.jobs" in m:
                    m[f"{sp.layer}.jobs"] += len(jobs_in(unit_jobs, iv))
            sinks = [sp for sp in spans if sp.layer.startswith("sinks.")]
            if sinks:
                phase = max(sp.end for sp in sinks) - min(sp.start for sp in sinks)
                m["sinks.overlap_frac"] += sum(sp.end - sp.start for sp in sinks) / phase
            m["sinks.bytes_written"] += u.get("sink_bytes", 0)
            m["materialize.persist_calls"] += u["persist"]
            m["materialize.checkpoint_calls"] += u["checkpoint"]
            m["materialize.retained_mb"] += u["retained_mb"]
            m["materialize.retained_rdds"] += u["retained_rdds"]
            m["materialize.release_wait_s"] += u["release_wait_s"]
        # totals are reported per pass (the run's fixed work); ratios per run
        n_pass = len(self.passes)
        out = {k: v / n_pass for k, v in m.items()}
        out["spark.core_busy_frac"] = m["spark.task_run_s"] / (wall * cores)
        sink_units = sum(1 for u in self.units if "sink_bytes" in u)
        out["sinks.overlap_frac"] = m["sinks.overlap_frac"] / max(1, sink_units)
        for k in ("materialize.retained_mb", "materialize.retained_rdds"):
            out[k] = statistics.median(u[k.split(".")[1]] for u in done)
        out["materialize.release_wait_s"] = m["materialize.release_wait_s"] / len(done)
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        from ram_datapipeline_spark import queries as Q
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {REPO}: {exc}", file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {W.WORKLOADS}",
              file=sys.stderr)
        return 2
    missing = [q for q in W.REGISTRY_QUERIES[args.workload] if q not in Q.REGISTRY]
    if missing:
        print(f"perfbench: workload {args.workload} names unregistered queries: {missing}",
              file=sys.stderr)
        return 2

    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK_ROOT)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    # every temp file of this process, its Python workers and the engine's
    # fixture helpers goes under the run's own directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    tempfile.tempdir = None
    run = Run(args, work)
    jiffies = cpu_jiffies()
    try:
        run.stamp = run_stamp(args, cpus)
        if run.stamp["busy"]:
            print(f"perfbench: WARNING load average {run.stamp['load1_start']} > "
                  f"nproc {run.stamp['nproc']} at start; timings are inflated",
                  file=sys.stderr)
        metrics = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = metric_names()["per_layer" if args.trace else "end_to_end"]
    failed = sum(1 for u in run.units if not u["ok"])
    run.stamp["failures"] = [f"{u['unit']}: {u['error']}" for u in run.units if not u["ok"]]
    run.stamp["failed_frac"] = failed / len(run.units)
    end = cpu_jiffies()
    if jiffies and end and end[1] > jiffies[1]:
        run.stamp["steal_frac"] = round((end[0] - jiffies[0]) / (end[1] - jiffies[1]), 4)
    run.stamp["run_s"] = round(time.perf_counter() - T_PROCESS, 2)
    run.stamp["check_s"] = [round(u.get("check_s", 0.0), 3) for u in run.units]
    run.stamp["release_wait_s"] = [round(u["release_wait_s"], 3) for u in run.units]
    run.stamp["unit_s"] = {
        name: [round(u["s"], 3) for u in run.units if u["unit"] == name]
        for name in dict.fromkeys(u["unit"] for u in run.units)
    }
    print(json.dumps({"stamp": run.stamp}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.units),
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
