"""Spark event-log parser for the traced benchmark run (stdlib ``json`` only).

The benchmark tags every Spark job with a job group ``<query>|<phase>``
(``SparkContext.setJobGroup``, with the job description cleared so Spark
keeps the call site as the description). Spark copies the group into each
``SparkListenerJobStart``'s properties. This module maps stages and tasks
back to those groups and classifies each job by the action that launched
it: the description of its SQL execution, or, for a job outside any SQL
execution, the name of its result stage. Both are call sites:

    ``parquet at``                               schema inference (``io.load_table``)
    ``count at``                                 a regime-gate ``count()``
    ``localCheckpoint at`` / ``checkpoint at``   plan truncation (durability)
    anything else                                ``other`` (e.g. the noop ``save``)

Independently, a job whose result stage is named
``$anonfun$withThreadLocalCaptured`` is an AQE query-stage job.

Self-test: ``python3 perfbench/eventlog.py --self-test`` runs a tiny local
Spark job under two groups, parses the log it wrote, and checks the split.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from dataclasses import dataclass

JOB_KINDS = ("schema", "gate", "checkpoint", "other")
AQE_STAGE_PREFIX = "$anonfun$withThreadLocalCaptured"


def classify(call_site: str) -> str:
    """Job kind from the call site of the action that launched it."""
    if call_site.startswith("parquet at"):
        return "schema"
    if call_site.startswith("count at"):
        return "gate"
    if call_site.startswith(("localCheckpoint at", "checkpoint at")):
        return "checkpoint"
    return "other"


@dataclass
class Job:
    group: str
    execution: int | None
    result_stage: str
    kind: str

    @property
    def aqe(self) -> bool:
        return self.result_stage.startswith(AQE_STAGE_PREFIX)


@dataclass
class Stage:
    job_id: int
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]  # stages that ran at least one task
    executions: dict[int, tuple[str, int, int | None]]  # id -> (description, start, end)

    def summary(self, groups: set[str]) -> dict[str, float]:
        """Counts, times and task totals over the jobs of ``groups``."""
        jobs = {i: j for i, j in self.jobs.items() if j.group in groups}
        stages = [s for s in self.stages.values() if s.job_id in jobs]
        out: dict[str, float] = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.tasks for s in stages),
            "aqe_jobs": sum(j.aqe for j in jobs.values()),
            "task_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
            "gc_s": sum(s.gc_ms for s in stages) / 1e3,
            "input_rows": sum(s.input_rows for s in stages),
            "shuffle_read_mb": sum(s.shuffle_read_bytes for s in stages) / 2**20,
            "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / 2**20,
            "spill_mb": sum(s.spill_bytes for s in stages) / 2**20,
        }
        for kind in JOB_KINDS:
            out[f"{kind}_jobs"] = sum(j.kind == kind for j in jobs.values())
        # Checkpoint time is the wall of the checkpoint SQL executions, so
        # AQE stage jobs running side by side inside one are not summed twice.
        ckpt = {j.execution for j in jobs.values() if j.kind == "checkpoint"}
        out["checkpoint_s"] = sum(
            (end - start) / 1e3
            for eid, (_, start, end) in self.executions.items()
            if eid in ckpt and end is not None
        )
        return out


def parse(path: str) -> EventLog:
    """Parse one uncompressed JSON-lines event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, Stage] = {}
    executions: dict[int, tuple[str, int, int | None]] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SQLExecutionStart"):
                executions[ev["executionId"]] = (ev["description"], ev["time"], None)
            elif kind.endswith("SQLExecutionEnd"):
                desc, start, _ = executions.get(ev["executionId"], ("", ev["time"], None))
                executions[ev["executionId"]] = (desc, start, ev["time"])
            elif kind == "SparkListenerJobStart":
                infos = ev.get("Stage Infos", [])
                for info in infos:
                    # A stage shared by several jobs belongs to the first.
                    stage_job.setdefault(info["Stage ID"], ev["Job ID"])
                result = max(infos, key=lambda i: i["Stage ID"])["Stage Name"] if infos else ""
                props = ev.get("Properties") or {}
                execution = props.get("spark.sql.execution.id")
                execution = int(execution) if execution is not None else None
                call_site = executions[execution][0] if execution in executions else result
                jobs[ev["Job ID"]] = Job(
                    group=props.get("spark.jobGroup.id", ""),
                    execution=execution,
                    result_stage=result,
                    kind=classify(call_site),
                )
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                stage = stages.setdefault(sid, Stage(stage_job.get(sid, -1)))
                stage.tasks += 1
                m = ev.get("Task Metrics") or {}
                stage.cpu_ns += m.get("Executor CPU Time", 0)
                stage.gc_ms += m.get("JVM GC Time", 0)
                # Rows, not "Bytes Read": the vectorized parquet reader reports
                # only footer bytes there (~6 KB per task for a 17 MB scan).
                stage.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                stage.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                stage.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                stage.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return EventLog(jobs, stages, executions)


def set_group(sc, group: str) -> None:
    """Tag the next jobs with ``group``; keep the call site as description."""
    sc.setJobGroup(group, "")
    sc.setLocalProperty("spark.job.description", None)


def clear_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)


def find_log(log_dir: str) -> str:
    """The single finished event log in ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that write an uncompressed, unrolled log to ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _self_test() -> None:
    """Write a tiny event log with a real local session and check the parse."""
    import shutil
    import tempfile

    from pyspark.sql import SparkSession

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = tempfile.mkdtemp(prefix="eventlog-selftest-", dir=root)
    try:
        log_dir = os.path.join(work, "log")
        os.makedirs(log_dir)
        builder = SparkSession.builder.master("local[2]").appName("eventlog-selftest")
        conf = {
            **event_log_conf(log_dir),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        try:
            sc = spark.sparkContext
            path = os.path.join(work, "t.parquet")
            spark.range(1000).write.parquet(path)
            set_group(sc, "t|build")
            df = spark.read.parquet(path)  # schema inference job
            n = df.count()  # gate-style count job
            df = df.localCheckpoint(eager=True)
            set_group(sc, "t|exec")
            df.groupBy((df.id % 7).alias("k")).count().write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            spark.stop()
        log = parse(find_log(log_dir))
        build = log.summary({"t|build"})
        exec_ = log.summary({"t|exec"})
        checks = {
            "count result": n == 1000,
            "schema job": build["schema_jobs"] >= 1,
            "gate job": build["gate_jobs"] >= 1,
            "checkpoint job": build["checkpoint_jobs"] >= 1,
            "checkpoint time": build["checkpoint_s"] > 0,
            "aqe jobs": build["aqe_jobs"] >= 1,
            "input rows": build["input_rows"] >= 1000,
            "no checkpoint in exec": exec_["checkpoint_jobs"] == 0,
            "exec jobs": exec_["jobs"] >= 1,
            "exec tasks": exec_["tasks"] >= 1,
            "exec shuffle": exec_["shuffle_write_mb"] > 0,
            "exec cpu": exec_["task_cpu_s"] > 0,
            "untagged write": log.summary({""})["jobs"] >= 1,
        }
        failed = [k for k, ok in checks.items() if not ok]
        print(json.dumps({"build": build, "exec": exec_, "failed_checks": failed}))
        if failed:
            raise SystemExit(f"event-log self-test failed: {failed}")
        print("event-log self-test passed")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:] != ["--self-test"]:
        raise SystemExit("usage: python3 perfbench/eventlog.py --self-test")
    _self_test()
