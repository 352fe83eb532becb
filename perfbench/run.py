"""Closed-loop, single-client benchmark of ushas_spark.

Run from the repository root (Arrow workers import ``ushas_spark`` from the
working directory):

    python3 perfbench/run.py --workload iterative_sf0.01 --seed 1 --seconds 15 --trace 0

One Python process drives one ``local[nproc]`` session. Setup (session,
``registry.load_all``, untimed warm passes or the lineage corpus build) is
followed by timed passes in a seeded order until ``--seconds`` have passed,
then by one fingerprint check of every result. ``--trace 1`` then restarts
the session with Spark's event log on, repeats the passes with one job
group per query and phase, and reports the per-layer metrics. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the line
before it holds the run's detail: stamps, sample counts and per-query
medians. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

import eventlog  # noqa: E402
import fingerprints  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "4g"  # the JVM heap; well below the physical RAM of a small host
# lineage() calls in the check of a query workload, spread over its plans;
# 200 leave ten samples above the p95.
LINEAGE_CALLS = 200
# Untimed warm passes in setup. The JVM keeps speeding up the iterative
# operator's many small jobs for several passes (one process: 13.9, 4.6,
# 3.6, 3.3, 2.7, 2.5, 2.8, 2.5, then 2.3-2.5 s); timing after fewer catches
# that slope at a different point in each run.
WARM_PASSES = 8
TRACE_LINEAGE_SAMPLES = 25  # traced lineage() calls at least, spread over the plans
LOAD_TABLE_REPS = 3  # direct io.load_table calls per table; the first is a warm-up


class BenchError(Exception):
    """The benchmark cannot run here; exit non-zero without a result."""


def testdata_dirs() -> dict[str, str]:
    """Scale-factor directory per ``sfX`` name, as TESTDATA.md declares them."""
    path = os.path.join(ROOT, "TESTDATA.md")
    try:
        with open(path, encoding="utf-8") as f:
            rows = re.findall(r"^\|\s*[\d.]+\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError as e:
        raise BenchError(f"cannot read the data-set list: {e}") from e
    dirs = {os.path.basename(p.rstrip("/")): p.rstrip("/") for p in rows}
    missing = [n for n, p in dirs.items() if not os.path.isdir(p)]
    if not dirs or missing:
        raise BenchError(f"test data sets missing: {missing or 'none declared'}")
    return dirs


def pin_environment(run_dir: str) -> None:
    """Pin cores, heap and every temporary path before the JVM starts."""
    for sub in ("local", "warehouse", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["USHAS_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["USHAS_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(extra: dict[str, str] | None = None):
    from ushas_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        "ushas-perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            **(extra or {}),
        },
    )


def shutdown_jvm() -> None:
    """End the gateway JVM this process started, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def release_storage(spark) -> None:
    import bench

    bench._release_storage(spark)


def source_digest() -> str:
    """SHA-256 prefix over ushas_spark's sources (the checkout need not be a git repo)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ushas_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise BenchError("VmHWM missing from the JVM's /proc status")


class Ops:
    """Attempted and failed operations (query runs and lineage calls)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {why}")
        print(f"perfbench: {what} failed: {why}", file=sys.stderr)


@contextmanager
def count_lineage_calls():
    """Count calls of ``ushas_spark.lineage.lineage`` from anywhere, the
    benchmark's own calls included (they go through the package attribute)."""
    extract = importlib.import_module("ushas_spark.lineage.extract")
    original = extract.lineage
    counter = {"calls": 0}

    def counted(df):
        counter["calls"] += 1
        return original(df)

    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("ushas_spark") and mod is not None:
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, counted)
                    patched.append((mod, attr))
    try:
        yield counter
    finally:
        for mod, attr in patched:
            setattr(mod, attr, original)


@contextmanager
def count_py4j_calls(spark):
    """Count commands sent through py4j's client ``send_command``."""
    client = spark.sparkContext._gateway._gateway_client
    original = client.send_command
    counter = {"calls": 0}

    def counted(*args, **kwargs):
        counter["calls"] += 1
        return original(*args, **kwargs)

    client.send_command = counted
    try:
        yield counter
    finally:
        del client.send_command


def _err(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"[:300]


class Bench:
    """One workload in one session: setup, timed passes, fingerprint check."""

    def __init__(self, wl: Workload, sf_dir: str, seed: int, ops: Ops, stored: dict):
        from ushas_spark import registry

        self.wl = wl
        self.sf_dir = sf_dir
        self.seed = seed
        self.ops = ops
        self.stored = stored
        self.queries = registry.QUERIES
        self.lineage_pkg = importlib.import_module("ushas_spark.lineage")
        self.plans: dict = {}  # lineage_corpus: name -> prebuilt DataFrame

    def run_query(self, spark, name: str, group: str | None = None) -> tuple[float, float] | None:
        """Build, then execute into the noop sink: (build_s, exec_s), or None."""
        sc = spark.sparkContext
        self.ops.attempted += 1
        try:
            if group:
                eventlog.set_group(sc, f"{group}|build")
            t0 = time.perf_counter()
            df = self.queries[name](spark, self.sf_dir)
            t1 = time.perf_counter()
            if group:
                eventlog.set_group(sc, f"{group}|exec")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # a failed query is counted; the run goes on
            self.ops.fail(name, _err(e))
            return None
        finally:
            if group:
                eventlog.clear_group(sc)
            release_storage(spark)
        return t1 - t0, t2 - t1

    def call_lineage(self, name: str, df) -> float | None:
        """One lineage() call over ``df``'s plan: seconds, or None."""
        self.ops.attempted += 1
        try:
            t0 = time.perf_counter()
            graph = self.lineage_pkg.lineage(df)
            dt = time.perf_counter() - t0
        except Exception as e:
            self.ops.fail(f"lineage({name})", _err(e))
            return None
        if len(graph) != len(df.columns):
            self.ops.fail(f"lineage({name})", f"{len(graph)} columns for {len(df.columns)}")
            return None
        return dt

    def setup(self, spark, warm_passes: int = WARM_PASSES, traced: bool = False) -> float:
        """Untimed warm passes, or the lineage corpus build. Returns seconds."""
        t0 = time.perf_counter()
        sc = spark.sparkContext
        if not self.wl.lineage_only:
            for _ in range(warm_passes):
                for name in self.wl.names:
                    self.run_query(spark, name)
            return time.perf_counter() - t0
        for name in self.wl.names:
            self.ops.attempted += 1
            try:
                if traced:
                    eventlog.set_group(sc, f"corpus|{name}|build")
                self.plans[name] = self.queries[name](spark, self.sf_dir)
            except Exception as e:
                self.ops.fail(f"build {name}", _err(e))
            finally:
                eventlog.clear_group(sc)
        return time.perf_counter() - t0

    def check(self, spark) -> list[float]:
        """Fingerprint every result once against the stored value. On the
        query workloads also time lineage() over each plan; returns those
        latencies (s)."""
        latencies: list[float] = []
        for name in self.wl.names:
            if self.wl.lineage_only and name not in self.plans:
                continue  # its build failed and was counted
            self.ops.attempted += 1
            try:
                if self.wl.lineage_only:
                    got = fingerprints.lineage_fingerprint(self.lineage_pkg.lineage(self.plans[name]))
                    want = self.stored["lineage"].get(name)
                else:
                    df = self.queries[name](spark, self.sf_dir)
                    for _ in range(LINEAGE_CALLS // len(self.wl.names)):
                        dt = self.call_lineage(name, df)
                        if dt is not None:
                            latencies.append(dt)
                    got = fingerprints.query_fingerprint(df)
                    want = self.stored["queries"].get(name, {}).get("fp")
            except Exception as e:
                self.ops.fail(name, _err(e))
                continue
            finally:
                if not self.wl.lineage_only:
                    release_storage(spark)
            if got != want:
                self.ops.fail(name, f"fingerprint {got} != stored {want}")
        return latencies

    def timed_passes(self, spark, seconds: float, traced: bool = False) -> dict:
        """Passes in seeded order until ``seconds`` have passed (at least one)."""
        res: dict = {"passes": [], "build_s": [], "exec_s": []}
        per_name: dict[str, list[float]] = {n: [] for n in self.wl.names}
        sc = spark.sparkContext
        orders = self.wl.pass_orders(self.seed)
        deadline = time.perf_counter() + seconds
        while not res["passes"] or time.perf_counter() < deadline:
            i = len(res["passes"])
            build = exec_ = 0.0
            for name in next(orders):
                group = f"pass{i}|{name}" if traced else None
                if self.wl.lineage_only:
                    if name not in self.plans:
                        continue
                    if group:
                        eventlog.set_group(sc, f"{group}|lineage")
                    dt = self.call_lineage(name, self.plans[name])
                    if group:
                        eventlog.clear_group(sc)
                    if dt is not None:
                        per_name[name].append(dt)
                        exec_ += dt
                    continue
                times = self.run_query(spark, name, group)
                if times is not None:
                    per_name[name].append(sum(times))
                    build += times[0]
                    exec_ += times[1]
            res["passes"].append(build + exec_)
            res["build_s"].append(build)
            res["exec_s"].append(exec_)
        res["per_name"] = per_name
        return res


def end_to_end(res: dict, setup_s: float, lineage_s: list[float]) -> dict:
    medians = [statistics.median(v) for v in res["per_name"].values()]
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(res["passes"]),
        "query_geomean_s": statistics.geometric_mean(medians),
        "lineage_p50_ms": 1e3 * statistics.median(lineage_s),
        "lineage_p95_ms": 1e3 * statistics.quantiles(lineage_s, n=20, method="inclusive")[18],
    }


def trace_lineage(bench: Bench, spark, plans: dict) -> dict:
    """Lineage layer: py4j calls per lineage(), plan JSON size, the
    benchmark's own analyzed().toJSON() fetch, and the walk (call - fetch)."""
    calls, kb, fetch, walk = [], [], [], []
    reps = -(-TRACE_LINEAGE_SAMPLES // max(len(plans), 1))
    for name, df in [item for item in plans.items() for _ in range(reps)]:
        t0 = time.perf_counter()
        payload = df._jdf.queryExecution().analyzed().toJSON()
        t_fetch = time.perf_counter() - t0
        with count_py4j_calls(spark) as c:
            dt = bench.call_lineage(name, df)
        if dt is None:
            continue
        calls.append(c["calls"])
        kb.append(len(payload) / 1024)
        fetch.append(t_fetch)
        walk.append(dt - t_fetch)
    return {
        "lineage.py4j_calls": statistics.fmean(calls),
        "lineage.plan_json_kb": statistics.fmean(kb),
        "lineage.json_fetch_ms": 1e3 * statistics.median(fetch),
        "lineage.walk_ms": 1e3 * statistics.median(walk),
    }


def trace_load_table(spark, sf_dir: str) -> float:
    """Warm p50 of direct io.load_table calls over every table (ms)."""
    from ushas_spark import io

    times = []
    for table in io.TABLES:
        for rep in range(LOAD_TABLE_REPS):
            t0 = time.perf_counter()
            io.load_table(spark, sf_dir, table)
            if rep:
                times.append(time.perf_counter() - t0)
    return 1e3 * statistics.median(times)


def traced_run(bench: Bench, seconds: float, log_dir: str, untraced_pass_s: float) -> dict:
    """A second session with the event log on: setup, traced passes, layers."""
    wl = bench.wl
    spark = start_session(eventlog.event_log_conf(log_dir))
    bench.plans = {}
    # The JVM is warm by now: one warm pass readies the new session.
    corpus_build_s = bench.setup(spark, warm_passes=1, traced=True)
    with count_lineage_calls() as lineage_calls:
        res = bench.timed_passes(spark, seconds, traced=True)
    plans = bench.plans
    if not wl.lineage_only:
        plans = {}
        for name in wl.names:
            try:
                plans[name] = bench.queries[name](spark, bench.sf_dir)
            except Exception as e:
                bench.ops.fail(name, _err(e))
    layers = trace_lineage(bench, spark, plans)
    release_storage(spark)
    layers["io.load_table_ms"] = trace_load_table(spark, bench.sf_dir)
    layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    spark.stop()  # finishes the event log

    log = eventlog.parse(eventlog.find_log(log_dir))
    groups = {j.group for j in log.jobs.values()}
    timed = {g for g in groups if g.startswith("pass")}
    n = len(res["passes"])
    if wl.lineage_only:  # construction happens once, in the corpus build
        build, per_build = log.summary({g for g in groups if g.startswith("corpus|")}), 1
        build_s = corpus_build_s
    else:
        build, per_build = log.summary({g for g in timed if g.endswith("|build")}), n
        build_s = statistics.median(res["build_s"])
    exec_ = log.summary({g for g in timed if not g.endswith("|build")})
    timed_all = log.summary(timed)
    layers.update(
        {
            "io.schema_jobs": build["schema_jobs"] / per_build,
            "queries.build_s": build_s,
            "queries.build_jobs": build["jobs"] / per_build,
            "queries.build_stages": build["stages"] / per_build,
            "queries.build_tasks": build["tasks"] / per_build,
            "queries.build_aqe_jobs": build["aqe_jobs"] / per_build,
            "queries.gate_count_jobs": build["gate_jobs"] / per_build,
            "durability.checkpoint_jobs": build["checkpoint_jobs"] / per_build,
            "durability.checkpoint_s": build["checkpoint_s"] / per_build,
            "spark.exec_s": 0.0 if wl.lineage_only else statistics.median(res["exec_s"]),
            "spark.exec_jobs": exec_["jobs"] / n,
            "spark.exec_stages": exec_["stages"] / n,
            "spark.exec_tasks": exec_["tasks"] / n,
            "spark.task_cpu_s": timed_all["task_cpu_s"] / n,
            "spark.gc_s": timed_all["gc_s"] / n,
            "spark.input_rows": timed_all["input_rows"] / n,
            "spark.shuffle_read_mb": timed_all["shuffle_read_mb"] / n,
            "spark.shuffle_write_mb": timed_all["shuffle_write_mb"] / n,
            "spark.spill_mb": timed_all["spill_mb"] / n,
            "lineage.pass_calls": lineage_calls["calls"] / n,
            "trace.overhead_frac": statistics.median(res["passes"]) / untraced_pass_s - 1,
        }
    )
    return layers


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end_to_end, per_layer) name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    wl = WORKLOADS[args.workload]

    if os.path.realpath(os.getcwd()) != os.path.realpath(ROOT):
        raise BenchError(f"run from the repository root ({ROOT})")
    units = metric_units()[args.trace]
    data = testdata_dirs()
    stored = fingerprints.load()
    run_dir = os.path.join(ROOT, ".bench_run", f"run-{os.getpid()}")
    pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    try:
        import bench as bench_py  # host-state stamps
        from ushas_spark import registry
    except ImportError as e:
        raise BenchError(f"cannot import the program: {e}") from e

    stamps = {
        "loadavg_start": bench_py._loadavg(),
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "USHAS_DRIVER_MEM": DRIVER_MEM,
        "git_commit": git_commit(),
        "source_digest": source_digest(),
    }
    cpu_start = bench_py._cpu_times()
    ops = Ops()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        registry.load_all()
        t2 = time.perf_counter()
        b = Bench(wl, data[wl.sf], args.seed, ops, stored)
        b.setup(spark)
        setup_s = time.perf_counter() - T_PROCESS
        t3 = time.perf_counter()
        res = b.timed_passes(spark, args.seconds)
        t4 = time.perf_counter()
        lineage_s = b.check(spark)
        t5 = time.perf_counter()
        if wl.lineage_only:
            lineage_s = [x for v in res["per_name"].values() for x in v]
        if not lineage_s or not all(res["per_name"].values()):
            raise BenchError(f"an operation never completed: {ops.errors[:5]}")
        metrics = end_to_end(res, setup_s, lineage_s)
        if args.trace:
            spark.stop()
            metrics = traced_run(
                b, args.seconds, os.path.join(run_dir, "eventlog"), metrics["pass_s"]
            )
            metrics["session.get_spark_s"] = t1 - t0
            metrics["registry.load_all_s"] = t2 - t1
    finally:
        if spark is not None:
            spark.stop()
            shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    if set(metrics) != set(units):
        raise BenchError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")

    stamps.update(
        loadavg_end=bench_py._loadavg(),
        cpu_steal_pct=bench_py._steal_pct(cpu_start, bench_py._cpu_times()),
        cpu_probe_sec=bench_py._cpu_probe_sec(reps=1),
    )
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "stamps": stamps,
        "samples": {
            "passes": len(res["passes"]),
            "timed_operations": sum(len(v) for v in res["per_name"].values()),
            "lineage_calls": len(lineage_s),
        },
        "phase_s": {
            "get_spark": t1 - t0,
            "load_all": t2 - t1,
            "setup": t3 - t2,
            "timed": t4 - t3,
            "check": t5 - t4,
            "total": time.perf_counter() - T_PROCESS,
        },
        "passes_s": res["passes"],
        "median_s": {n: statistics.median(v) for n, v in res["per_name"].items()},
        "errors": ops.errors,
    }
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
