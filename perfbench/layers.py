"""Per-layer counters for the traced run, measured from outside the
program: wrappers around each layer's public functions, and Spark's
status REST counters summed per job group.

``install()`` must run before ``clickhouse_build_spark.plans`` is
imported, so that no module can bind an unwrapped function by name at
import time. (Today plan modules import ``session_artifact`` inside the
functions that call it, and chdialect binds ``run_ch_sql``/
``run_pg_sql``, which reach the translators through chsql's globals.)
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from collections import defaultdict


class Counters:
    """Calls and wall seconds per wrapped function, plus artifact events."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self.artifact_builds: dict[str, float] = {}  # seconds per artifact
        self.artifact_build_count = 0
        self.artifact_hits = 0

    def reset(self) -> None:
        self.__init__()


COUNTERS = Counters()


def _timed(name: str, fn):
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            COUNTERS.calls[name] += 1
            COUNTERS.seconds[name] += time.perf_counter() - t0

    wrapper.__wrapped__ = fn
    return wrapper


def install() -> None:
    if "clickhouse_build_spark.plans" in sys.modules:
        raise RuntimeError("layers.install() must run before the plans import")
    from clickhouse_build_spark import catalog
    from clickhouse_build_spark.functions import chsql

    chsql.translate_ch_sql = _timed("translate", chsql.translate_ch_sql)
    chsql.translate_pg_sql = _timed("translate", chsql.translate_pg_sql)
    catalog.Catalog.load = _timed("catalog.load", catalog.Catalog.load)

    # importing artifacts runs the plans package (every plan module), so
    # it comes after the translator patches
    from clickhouse_build_spark.plans import artifacts

    real = artifacts.session_artifact

    def session_artifact(cache, key, build, evict=None):
        # the calling function names the artifact (shared_ivfpq_index, ...)
        owner = sys._getframe(1).f_code.co_name
        built = []

        def timed_build():
            t0 = time.perf_counter()
            try:
                return build()
            finally:
                built.append(time.perf_counter() - t0)

        val = real(cache, key, timed_build, evict)
        if built:
            COUNTERS.artifact_build_count += 1
            COUNTERS.artifact_builds[owner] = (
                COUNTERS.artifact_builds.get(owner, 0.0) + built[0]
            )
        else:
            COUNTERS.artifact_hits += 1
        return val

    artifacts.session_artifact = session_artifact


# ------------------------------------------------------------- Spark REST

_STAGE_FIELDS = {
    "exec.tasks": "numCompleteTasks",
    "exec.executor_cpu_s": "executorCpuTime",
    "exec.gc_s": "jvmGcTime",
    "exec.input_bytes": "inputBytes",
    "exec.shuffle_write_bytes": "shuffleWriteBytes",
    "exec.shuffle_read_bytes": "shuffleReadBytes",
    "exec.shuffle_records": "shuffleWriteRecords",
}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def wait_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so
    the status store holds each finished job and stage."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _api(spark) -> str:
    sc = spark.sparkContext
    return f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"


def last_job_id(spark) -> int:
    wait_listeners(spark)
    return max((j["jobId"] for j in _get(f"{_api(spark)}/jobs")), default=-1)


def exec_counters(spark, job_filter) -> dict[str, float]:
    """Execution counters summed over every job (a status-API job dict)
    that ``job_filter`` keeps: jobs, stages, tasks, executor CPU and GC
    seconds, input, shuffle and spill bytes, shuffle records."""
    wait_listeners(spark)
    base = _api(spark)
    jobs = [j for j in _get(f"{base}/jobs") if job_filter(j)]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    out = {k: 0.0 for k in ["exec.jobs", "exec.stages", *_STAGE_FIELDS, "exec.spill_bytes"]}
    out["exec.jobs"] = len(jobs)
    for st in _get(f"{base}/stages?status=complete"):
        if st["stageId"] not in stage_ids:
            continue
        out["exec.stages"] += 1
        for k, f in _STAGE_FIELDS.items():
            out[k] += st.get(f, 0)
        out["exec.spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
    out["exec.executor_cpu_s"] /= 1e9  # ns
    out["exec.gc_s"] /= 1e3  # ms
    return out
