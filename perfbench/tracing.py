"""Per-layer instrumentation for traced runs (``--trace 1``).

Everything here wraps the engine's public entry points from outside:
no module of the engine is edited. Driver-side counters go to a dict
the caller passes in; executor-side ones (transport reads, bus publishes)
append one JSON line per call to a file named by the run, because
those calls happen in Spark's Python worker processes.

Layers and their wrappers:

- builders: :func:`timed_query` times the builder call and the
  ``noop`` write apart and counts each part's jobs through the job
  group of the query run;
- ``scale``: :func:`wrap_scale` replaces six kernel attributes of
  :mod:`streamclient_spark.scale` with timing/job-counting shims (the
  builders import them at call time, so the shims are what they get);
- Spark execution: :func:`spark_eventlog_conf` turns on an
  uncompressed event log, :func:`read_eventlog` folds it into stage,
  task, shuffle, spill, CPU and GC totals per job group;
- sources: :func:`timed_journal_transport` is a transport factory that
  delegates to :func:`file_journal_transport`;
- sinks: :func:`wrap_upsert` wraps the sink that
  :func:`upsert_state_batch` returns.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

SCALE_FNS = (
    "connected_components_star",
    "kcore",
    "pagerank",
    "ranked_by_range",
    "running_sum_by_range",
    "running_max_by_range",
)


def group_jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def current_group(spark) -> str | None:
    return spark.sparkContext.getLocalProperty("spark.jobGroup.id")


# ---------------------------------------------------------------- scale


def wrap_scale(spark, counters: dict[str, float]) -> None:
    """Replace the kernel attributes of ``streamclient_spark.scale``
    with shims that add call count, wall time and the jobs run inside
    the call (jobs of the current job group before and after) to
    ``counters``."""
    import streamclient_spark.scale as scale

    for name in SCALE_FNS:
        fn = getattr(scale, name)
        if not getattr(fn, "_perfbench_wrapped", False):
            setattr(scale, name, _scale_shim(spark, counters, name, fn))


def _scale_shim(spark, counters: dict[str, float], name: str, fn):
    @functools.wraps(fn)
    def shim(*args, **kwargs):
        group = current_group(spark)
        j0 = group_jobs(spark, group) if group else 0
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            counters[f"scale.{name}.s"] += time.perf_counter() - t0
            counters[f"scale.{name}.calls"] += 1
            if group:
                counters[f"scale.{name}.jobs"] += group_jobs(spark, group) - j0

    shim._perfbench_wrapped = True
    return shim


# ------------------------------------------------------------- builders


def timed_query(spark, builder, sf_dir: str, group: str, count_jobs: bool):
    """Run one query as builder call + ``noop`` write under job group
    ``group``; returns (build_s, exec_s, build_jobs, exec_jobs). Jobs
    are read from the status tracker only with ``count_jobs`` (traced
    runs), so untraced runs make no extra driver round trips."""
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    df = builder(spark, sf_dir)
    t1 = time.perf_counter()
    build_jobs = group_jobs(spark, group) if count_jobs else 0
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    exec_jobs = group_jobs(spark, group) - build_jobs if count_jobs else 0
    return t1 - t0, t3 - t2, build_jobs, exec_jobs


# ------------------------------------------------------------ event log


def spark_eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def _events(log_dir: str):
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def read_eventlog(log_dir: str) -> dict[str, dict[str, float]]:
    """Totals per job group from the (finished) event log: stages,
    tasks, shuffle MB written/read, spill MB, task CPU s and GC s."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            out[stage_group.get(ev["Stage Info"]["Stage ID"], "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_group.get(ev["Stage ID"], "")]
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            g["tasks"] += 1
            g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            g["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return out


# -------------------------------------------------------------- sources


def _rchar() -> int:
    with open("/proc/self/io", encoding="ascii") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


def append_record(path: str, rec: dict) -> None:
    """Append one JSON line; safe from several worker processes."""
    with open(path, "a", encoding="utf-8") as f:
        f.write(json.dumps(rec) + "\n")


class TimedTransport:
    """Delegates to a file journal transport; appends one record per
    ``latest``/``fetch`` call (wall time, bytes read by this process
    during the call, rows returned, offsets) to ``trace_path``."""

    def __init__(self, inner, trace_path: str):
        self._inner = inner
        self._path = trace_path

    def latest(self) -> dict[int, int]:
        b0, t0 = _rchar(), time.perf_counter()
        out = self._inner.latest()
        dt, b1 = time.perf_counter() - t0, _rchar()
        append_record(self._path, {"op": "latest", "s": dt, "bytes": b1 - b0, "at": time.time()})
        return out

    def fetch(self, shard: int, lo: int, hi: int):
        b0, t0 = _rchar(), time.perf_counter()
        rows = list(self._inner.fetch(shard, lo, hi))
        dt, b1 = time.perf_counter() - t0, _rchar()
        append_record(
            self._path,
            {
                "op": "fetch", "s": dt, "bytes": b1 - b0, "rows": len(rows),
                "shard": shard, "lo": lo, "hi": hi, "at": time.time(),
            },
        )
        return iter(rows)


def timed_journal_transport(options: dict) -> TimedTransport:
    """Transport factory for the ``transport`` option: the file journal
    transport, timed. Option ``perfbench_trace`` names the record file."""
    from streamclient_spark.sources.transport import file_journal_transport

    return TimedTransport(file_journal_transport(options), options["perfbench_trace"])


# ---------------------------------------------------------------- sinks


def wrap_upsert(counters: dict[str, float]) -> None:
    """Make :func:`metagame_pipeline` build its state sink through a
    wrapper that adds the time and count of each call of the sink
    ``upsert_state_batch`` returns to ``counters``."""
    import streamclient_spark.streaming.pipeline as pipeline

    inner_factory = pipeline.upsert_state_batch
    if getattr(inner_factory, "_perfbench_wrapped", False):
        return

    @functools.wraps(inner_factory)
    def factory(*args, **kwargs):
        sink = inner_factory(*args, **kwargs)

        def timed_sink(batch_df, batch_id):
            t0 = time.perf_counter()
            try:
                return sink(batch_df, batch_id)
            finally:
                counters["sinks.upsert_s"] += time.perf_counter() - t0
                counters["sinks.upsert_calls"] += 1

        return timed_sink

    factory._perfbench_wrapped = True
    pipeline.upsert_state_batch = factory


def read_records(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]
