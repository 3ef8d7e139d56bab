"""Engine posture, host facts and counters read from outside the program.

``pin_posture`` must run before pyspark or the engine package is imported:
the engine reads its core count and heap size from the environment at
import time, and the JVM takes its heap and temp dir at launch.
"""

from __future__ import annotations

import os
import platform
import resource
import sys
import time

DRIVER_MEM = "3g"  # the engine's 16g default exceeds small hosts
# a fixed heap and young generation, so peak RSS does not follow the
# collector's run-to-run sizing decisions
JVM_OPTS = f"-Xms{DRIVER_MEM} -Xmn512m"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_posture(work: str) -> dict:
    cores = nproc()
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    return {
        "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "driver_memory": DRIVER_MEM,
        "jvm_options": JVM_OPTS,
        "spark_local_dirs": os.path.relpath(local),
    }


def start_session(posture: dict):
    """A fresh SparkSession with the pinned posture; stops any previous one
    first, so repeated set-ups each pay for a new SparkContext."""
    from pyspark.sql import SparkSession

    from flink_kafka_table_api_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        master=posture["master"],
        shuffle_partitions=posture["shuffle_partitions"],
        extra_conf={
            "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={tmp}",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )


def host_facts(spark) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    system = spark._jvm.java.lang.System
    java = f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}"
    return {
        "cores": nproc(),
        "cpu": model,
        "mem_gib": round(mem_kb / 2**20, 1),
        "kernel": platform.release(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "spark_version": spark.version,
    }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python driver process."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + py_kb) / 1024.0


class EngineCounters:
    """Stage and job totals from the application status store, counted
    from the moment of construction."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._stage0 = self._max_stage_id()
        self._job0 = self._max_job_id()
        self._t0 = time.perf_counter()

    def _seq(self, seq):
        return [seq.apply(i) for i in range(seq.size())]

    def _stages(self):
        gw = self._spark.sparkContext._gateway
        return self._seq(self._store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None))

    def _max_stage_id(self) -> int:
        ids = [s.stageId() for s in self._stages()]
        return max(ids, default=-1)

    def _max_job_id(self) -> int:
        ids = [j.jobId() for j in self._seq(self._store.jobsList(None))]
        return max(ids, default=-1)

    def read(self, cores: int) -> dict:
        wall = time.perf_counter() - self._t0
        stages = [s for s in self._stages() if s.stageId() > self._stage0]
        jobs = [j for j in self._seq(self._store.jobsList(None))
                if j.jobId() > self._job0]
        run_s = sum(s.executorRunTime() for s in stages) / 1e3
        cpu_s = sum(s.executorCpuTime() for s in stages) / 1e9
        out = {
            "engine.jobs": len(jobs),
            "engine.stages": len(stages),
            "engine.tasks": sum(s.numCompleteTasks() for s in stages),
            "engine.executor_run_s": run_s,
            "engine.executor_cpu_s": cpu_s,
            "engine.cpu_util": cpu_s / (wall * cores) if wall > 0 else 0.0,
            "engine.shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "engine.shuffle_read_bytes": sum(s.shuffleReadBytes() for s in stages),
            "engine.spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                                      for s in stages),
            "engine.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "engine.task_skew": 1.0,
        }
        if stages:
            longest = max(stages, key=lambda s: s.executorRunTime())
            out["engine.task_skew"] = self._skew(longest)
        return out

    def _skew(self, stage) -> float:
        gw = self._spark.sparkContext._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage.stageId(), stage.attemptId(), qs)
        if summary.isEmpty():
            return 1.0
        rt = summary.get().executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 1.0
