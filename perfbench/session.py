"""One benchmark process's engine session: isolated directories, the
timed cold set-up, and a teardown that waits for every process of the
run to exit."""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field

from perfbench import procs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.1")
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
WARMUP_ROW = "stats_total"  # cheap, and in no workload


def _driver_mem() -> str:
    """Half the host's memory, at most 6 GiB: the engine's 16g default
    exceeds small hosts, and other processes share the machine."""
    with open("/proc/meminfo") as f:
        kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
    return f"{max(1, min(6, kib // 2**21))}g"


@dataclass
class Session:
    run_dir: str
    trace: bool
    spark: object = None
    jvm_pid: int = 0
    registry: dict = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)
    setup_s: float = 0.0

    @classmethod
    def open(cls, workload: str, seed: int, trace: bool, python_pool: bool) -> "Session":
        run_dir = os.path.join(RUNS_DIR, f"{workload}-{seed}-{os.getpid()}")
        s = cls(run_dir=run_dir, trace=trace)
        try:
            s._start(python_pool)
        except BaseException:
            s.close()
            raise
        return s

    def _start(self, python_pool: bool) -> None:
        for d in ("tmp", "local", "at_rest"):
            os.makedirs(os.path.join(self.run_dir, d))
        cpus = len(os.sched_getaffinity(0))
        os.environ.update(
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_DRIVER_MEM=_driver_mem(),
            CHB_AT_REST_ROOT=os.path.join(self.run_dir, "at_rest"),
            TMPDIR=os.path.join(self.run_dir, "tmp"),
            SPARK_LOCAL_DIRS=os.path.join(self.run_dir, "local"),
            # spark-submit's launcher JVM: no perf-data file under /tmp
            SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={self.run_dir}/tmp",
            PYTHONDONTWRITEBYTECODE="1",
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        )
        tmp = os.environ["TMPDIR"]
        tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
        from clickhouse_build_spark.session import get_spark

        if self.trace:
            from perfbench import layers

            layers.install()
        conf = {
            # the engine reads SPARK_GRAFT_DRIVER_MEM when its session
            # module is imported, which may have happened before the
            # environment above was set
            "spark.driver.memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # keep the JVM's temp files, derby log and perf data in the run dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.stream.error.file={tmp}/derby.log -XX:-UsePerfData",
        }
        if self.trace:
            # one pipeline batch alone runs ~1,000 jobs; keep every one
            conf.update(
                {
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        t1 = time.perf_counter()
        from clickhouse_build_spark.catalog import load_tables
        from clickhouse_build_spark.plans import REGISTRY

        self.registry = REGISTRY
        t2 = time.perf_counter()
        load_tables(self.spark, SF_DIR)
        t3 = time.perf_counter()
        if python_pool:
            # one identity Arrow kernel per core forks the Python workers
            cores = self.spark.sparkContext.defaultParallelism
            (
                self.spark.range(0, cores, 1, cores)
                .mapInPandas(lambda it: it, "id long")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        t4 = time.perf_counter()
        REGISTRY[WARMUP_ROW].builder(self.spark, SF_DIR).collect()
        self.setup_s = procs.process_age_s()
        self.phases = {
            "session.jvm_start_s": t1 - t0,
            "session.import_plans_s": t2 - t1,
            "catalog.register_s": t3 - t2,
            "session.pypool_s": t4 - t3,
            "session.warmup_s": time.perf_counter() - t4,
        }

    def tree_cpu(self) -> float:
        return procs.tree_cpu_seconds(os.getpid())

    def close(self) -> list[int]:
        """Stop Spark, end the JVM, wait for every process the run
        started, and remove the run dir. Returns pids that had to be
        killed."""
        pids = procs.descendants(os.getpid())
        killed: list[int] = []
        try:
            if self.spark is not None:
                gw = self.spark.sparkContext._gateway
                self.spark.stop()
                gw.shutdown()
                # the JVM's gateway server exits when its stdin closes
                gw.proc.stdin.close()
                gw.proc.wait(timeout=60)
        finally:
            killed = procs.wait_gone(pids)
            shutil.rmtree(self.run_dir, ignore_errors=True)
            try:
                os.rmdir(RUNS_DIR)
            except OSError:
                pass  # another run's dir is still there
        return killed
