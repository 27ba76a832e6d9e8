"""Benchmark of the medallion run and a lake query mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see ``workloads.py`` and
README.md): ``medallion_incremental`` and ``lake_query_mix``. One
client in one process runs units back to back (closed loop) on
``local[<cores>]``:

1. generate the seeded inputs under ``.perfbench_work/`` (not timed);
2. create the session and do the workload's set-up;
3. run one untimed warm-up unit and check it;
4. run timed units until there are ``MIN_UNITS`` of them and they add
   up to ``--seconds``, checking each after its timer stops.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (warm-up included) and ``metrics`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the sample count, each timed unit's wall, CPU and
hypervisor-steal seconds and Spark stages, the end-to-end figures
without a bound (``also``; ``null`` where a workload has no such
quantity), the pinned environment and the input hash.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Timed units per run. Two batches or passes last longer than the
# registered ``run_seconds``, so a run times exactly two whatever the
# host's speed, and each median sits at the same point of the JVM's
# warm-up (a slow host would otherwise time fewer, earlier, costlier units).
MIN_UNITS = 2
DRIVER_MEM = "2g"  # more heap than the workloads fill, see README.md

MEDALLION_SPANS = (
    "plans.medallion.ingest_bronze",
    "plans.medallion.build_silver",
    "plans.medallion.publish_gold",
    "operators.scd.apply_scd2",
    "sinks.manifest.replace_atomic",
    "sinks.manifest.read",
)
MEDALLION_FIELDS = ("s", "self_s", "jobs", "stages", "task_s", "gc_s",
                    "shuffle_write_mb", "spill_mb", "output_rows", "output_mb",
                    "driver_s")
QUERY_FIELDS = ("s", "stages", "task_s", "shuffle_write_mb")


class Run:
    """State of one benchmark process."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.work = work
        self.spark = None
        self.tracer = None
        self.excluded = 0.0  # benchmark-own time inside the set-up window
        self.input_files: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if self.tracer is None:
            yield None
        else:
            with self.tracer.span(name, **attrs) as s:
                yield s

    @contextlib.contextmanager
    def not_setup(self):
        """Benchmark-own work (generation, checks) excluded from setup_s."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def pin_env(work: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": f"{work}/tmp",
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


def process_tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of this
    process and every live descendant (the JVM and its Python workers)."""
    stats = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stats[int(pid)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    tree, frontier = {}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        tree[p] = stats[p]
        frontier += [c for c, f in stats.items() if int(f[1]) == p and c not in tree]
    return tree


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` over the process tree. Python workers can exit
    between units, so callers sample after each unit and keep the
    largest."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def cpu_s() -> float:
    """User plus system CPU seconds the process tree has used so far
    (reaped children count in their parent's ``cutime``/``cstime``)."""
    ticks = sum(sum(map(int, f[11:15])) for f in process_tree().values())
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to others, all CPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def unit_stages(spark, group: str) -> int:
    """Stages Spark ran for the jobs of one job group; a stage skipped
    because its shuffle output already existed does not count. Waits
    for the listener bus first, so every job of the group is recorded."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    ids = {s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds}
    return sum(1 for s in ids if (info := st.getStageInfo(s)) and info.numCompletedTasks > 0)


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        with contextlib.suppress(OSError):
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(run: Run, unit_s: list[float], rdds: list[int], writes: dict) -> dict:
    from spans import read_event_log, rollup
    from workloads import MIX_QUERIES

    tracer = run.tracer
    jobs, groups = read_event_log(f"{run.work}/eventlog")
    unowned = rollup(tracer.spans, jobs, groups)
    by_id = {s.id: s for s in tracer.spans}

    def outermost(phase, name):
        out = []
        for s in tracer.spans:
            if s.phase != phase or s.name != name:
                continue
            p = by_id.get(s.parent)
            while p is not None and p.name != name:
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    unit_phases = [f"unit{i}" for i in range(1, len(unit_s) + 1)]

    def per_unit(name, field):
        vals = [sum(s.stats[field] for s in outermost(ph, name)) for ph in unit_phases]
        return statistics.median(vals) if vals else 0.0

    def setup_sum(name, field):
        return sum(s.stats[field] for s in outermost("setup", name))

    m = {"session.create_spark_session.s": setup_sum("session.create_spark_session", "s")}
    for name in MEDALLION_SPANS:
        for f in MEDALLION_FIELDS:
            m[f"{name}.{f}"] = per_unit(name, f)
    for q in MIX_QUERIES:
        for f in QUERY_FIELDS:
            m[f"queries.{q}.{f}"] = per_unit(f"queries.{q}", f)
    for f in ("s", "stages"):
        m[f"operators.dedup_store.ingest.{f}"] = setup_sum("operators.dedup_store.ingest", f)
        m[f"operators.dedup_store.probe.{f}"] = per_unit("operators.dedup_store.probe", f)

    rows = {"bronze.orders": 0, "silver.orders_q": 0}
    for s in tracer.spans:
        if s.phase in unit_phases and s.name == "sinks.manifest.replace_atomic":
            if s.attrs.get("table") in rows:
                rows[s.attrs["table"]] += s.stats["output_rows"]
    bronze = rows["bronze.orders"]
    m["operators.dq.reject_ratio"] = 1 - rows["silver.orders_q"] / bronze if bronze else 0.0
    m["sinks.manifest.write_amp"] = writes["write_amp"] or 0.0
    m["sinks.manifest.space_amp"] = writes["space_amp"] or 0.0
    m["operators.scd.useful_write_ratio"] = writes["useful_write_ratio"] or 0.0
    m["session.persisted_rdds"] = max(rdds)
    m["trace.run_s_p50"] = statistics.median(unit_s)
    m["trace.unowned_jobs"] = unowned
    return m


LAYER_UNITS = {
    "s": "s", "self_s": "s", "driver_s": "s", "task_s": "s", "gc_s": "s",
    "jobs": "count", "stages": "count", "output_rows": "count",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "output_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith(("_ratio", "_amp")):
        return "ratio"
    if name.endswith(("persisted_rdds", "unowned_jobs")):
        return "count"
    if name == "trace.run_s_p50":
        return "s"
    return LAYER_UNITS[name.rsplit(".", 1)[1]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import end_to_end_etl_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_env(work)
    os.chdir(work)  # stray files (derby.log, spark-warehouse) stay in here
    run = Run(args, work)
    wl = WORKLOADS[args.workload](run)
    try:
        return measure(run, wl, args, env, gen)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)


def measure(run: Run, wl, args, env: dict, gen) -> int:
    from end_to_end_etl_pipeline_spark.session import create_spark_session

    with run.not_setup():
        run.input_files = wl.prepare()
    log("inputs generated")

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        from spans import Tracer

        os.makedirs(f"{run.work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run.work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        run.tracer = Tracer()
    with run.span("session.create_spark_session"):
        run.spark = create_spark_session(extra_conf=conf)
    if run.tracer is not None:
        run.tracer.spark = run.spark
    run.spark.sparkContext.setLogLevel("ERROR")
    log("session created")

    attempted = failed = 0
    rss = 0.0
    unit_s: list[float] = []
    unit_cpu_s: list[float] = []
    unit_steal_s: list[float] = []
    unit_stage_n: list[int] = []  # untraced runs; spans own the job groups when traced
    rdds: list[int] = []
    try:
        wl.setup()
        log("set-up done")
        for i in itertools.count():
            timed = i > 0
            if timed and len(unit_s) >= MIN_UNITS and sum(unit_s) >= args.seconds:
                break
            phase = f"unit{i}" if timed else "warmup"
            if run.tracer is not None:
                run.tracer.phase = phase
            with run.not_setup():
                run.spark.catalog.clearCache()
                wl.before_unit(i)
            attempted += 1
            group = f"unit-{i}"
            if run.tracer is None:
                run.spark.sparkContext.setJobGroup(group, phase)
            c0, st0 = cpu_s(), steal_s()
            t0 = time.perf_counter()
            try:
                wl.unit(i)
            except Exception as exc:  # a failed unit counts, the run goes on
                print(f"{phase} raised: {exc!r}", file=sys.stderr)
                failed += 1
                ok = None
            else:
                ok = True
            dt = time.perf_counter() - t0
            if run.tracer is None:
                run.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                if timed:
                    unit_stage_n.append(unit_stages(run.spark, group))
            if not timed:
                setup_s = time.perf_counter() - T_START - run.excluded
            else:
                unit_s.append(dt)
                unit_cpu_s.append(cpu_s() - c0)
                unit_steal_s.append(steal_s() - st0)
            log(f"{phase} ran in {dt:.2f}s")
            if ok:
                with run.not_setup(), run.span("perfbench.check"):
                    ok = wl.check(i, timed)
                    if not ok:
                        print(f"{phase} failed its correctness check", file=sys.stderr)
                        failed += 1
            rdds.append(persisted_rdds(run.spark))
            rss = max(rss, peak_rss_mb())
    finally:
        stop_spark(run.spark)

    total = sum(unit_s)
    writes = wl.write_metrics()
    if args.trace:
        metrics = layer_metrics(run, unit_s, rdds, writes)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "stages_p50": {"value": statistics.median(unit_stage_n), "unit": "count"},
        }
    rows_per_s = qpm = None
    if wl.input_rows is not None:
        rows_per_s = sum(wl.input_rows) / total
    if wl.queries_per_unit is not None:
        qpm = 60 * wl.queries_per_unit * len(unit_s) / total
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "samples": len(unit_s), "unit_s": unit_s, "unit_cpu_s": unit_cpu_s,
        "unit_steal_s": unit_steal_s, "unit_stages": unit_stage_n, "env": env,
        "input_hash": gen.content_hash(run.input_files),
        "also": {
            "run_s_p50": {"value": statistics.median(unit_s), "unit": "s"},
            "cpu_s_p50": {"value": statistics.median(unit_cpu_s), "unit": "s"},
            "rows_per_s": {"value": rows_per_s, "unit": "1/s"},
            "queries_per_min": {"value": qpm, "unit": "1/min"},
            "write_amp": {"value": writes["write_amp"], "unit": "ratio"},
            "space_amp": {"value": writes["space_amp"], "unit": "ratio"},
            "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
        },
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
