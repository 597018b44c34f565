"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload registry_queries --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout. The inputs are generated from
``--seed``; the engine runs on ``local[<cores>]`` in this process with
a pinned driver heap. Every file the run writes goes under
``perfbench/.work/`` and is removed at exit; a traced run also leaves
``perfbench/traces/<workload>.json``. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics untraced, per-layer metrics traced).
See README.md for the workloads and every metric.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

#: the driver heap every run pins; the session default (24g) is more
#: than the memory of a small machine. The heap is also committed and
#: touched at start, so the JVM's resident size does not depend on
#: when the collector chose to grow the heap
DRIVER_MEM = "2g"
#: scale factor of the generated tables
SF = 0.01

WORKLOADS = ("registry_queries", "stream_catchup")

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "op_latency_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _modules_per_layer() -> dict[str, str]:
    out = {}
    for mod in (
        "operators.reference", "operators.relational", "operators.window",
        "operators.scalar_fns",
    ):
        out[f"{mod}.build_s"] = "s"
        out[f"{mod}.exec_s"] = "s"
        out[f"{mod}.jobs"] = "count"
    return out


PER_LAYER: dict[str, str] = {
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "action.exec_s": "s",
    "action.jobs": "count",
    **_modules_per_layer(),
    **{
        f"scale.{fn}.{k}": u
        for fn in (
            "connected_components_star", "kcore", "pagerank",
            "ranked_by_range", "running_sum_by_range", "running_max_by_range",
        )
        for k, u in (("s", "s"), ("jobs", "count"), ("calls", "count"))
    },
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "sources.latest_s": "s",
    "sources.latest_calls": "count",
    "sources.latest_bytes_read": "bytes",
    "sources.fetch_s": "s",
    "sources.fetch_calls": "count",
    "sources.fetch_rows": "count",
    "sources.fetch_bytes_read": "bytes",
    "sources.fetch_useful_ratio": "ratio",
    "sinks.publish_s": "s",
    "sinks.published": "count",
    "sinks.upsert_s": "s",
    "sinks.upsert_calls": "count",
    "state.rows": "count",
    "state.mb": "MB",
    "state.files": "count",
    "stream.drain_batches": "count",
    "stream.jobs_per_batch": "count",
    "stream.latestOffset_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.addBatch_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.triggerExecution_ms": "ms",
    "gen.events": "count",
    "gen.lag_p99_ms": "ms",
}


def _vm_hwm_mb(pid: str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _become_subreaper() -> None:
    """Have orphaned descendants (the Python workers the JVM forks, say)
    re-parented to this process, so that it can wait for every one."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(name))
    return out


def _reap_children(grace_s: float = 15.0) -> None:
    """Stop every process still below this one and wait until each has
    ended: TERM first, KILL after ``grace_s``. Orphans of a stopped
    child come back to this process (it is a subreaper) and are
    stopped in turn."""
    deadline = time.monotonic() + grace_s
    termed: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, running or unreaped
        late = time.monotonic() > deadline
        for pid in _children():
            if late or pid not in termed:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                termed.add(pid)
        time.sleep(0.02)


def _stop_gateway() -> None:
    """End the JVM PySpark started and wait for it. ``SparkSession.stop``
    leaves it running until this process exits; it ends on EOF on its
    standard input."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may be gone already
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Context:
    """What a workload needs: session, inputs, options, and the hooks
    that mark the end of set-up and stop the session."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.sf_dir = os.path.join(work, "data")
        self.eventlog_dir = os.path.join(work, "eventlog")
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.setup_s = None
        self.peak_rss_mb = None
        self.rss_split_mb = None

    def start_spark(self) -> None:
        from streamclient_spark.session import get_spark
        from perfbench.tracing import spark_eventlog_conf

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        }
        if self.trace:
            conf.update(spark_eventlog_conf(self.eventlog_dir))
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm_pid = str(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def mark_setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START

    def stop_spark(self) -> None:
        """Read peak memory, then stop the session and its JVM and wait
        for the JVM to end (idempotent)."""
        if self.spark is None:
            return
        try:
            self.rss_split_mb = (_vm_hwm_mb("self"), _vm_hwm_mb(self._jvm_pid))
            self.peak_rss_mb = sum(self.rss_split_mb)
        finally:
            try:
                self.spark.stop()
            finally:
                self.spark = None
                _stop_gateway()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM (a timeout, say) unwinds through the finally blocks that
    # stop the stream, the generator and the session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()

    if not os.path.isfile(os.path.join(ROOT, "streamclient_spark", "session.py")):
        print("perfbench: no streamclient_spark package beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM the run starts (launcher and driver): temp files in
        # the work dir, no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    try:
        return _run(args, work)
    finally:
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import datagen

    ctx = Context(args, work)
    datagen.write(ctx.sf_dir, args.seed, SF)
    ctx.start_spark()
    try:
        if args.workload == "stream_catchup":
            from perfbench import stream

            res = stream.run(ctx)
        else:
            from perfbench import queries

            res = queries.run(ctx)
    finally:
        ctx.stop_spark()

    e2e = dict(res["e2e"], setup_s=ctx.setup_s, peak_rss_mb=ctx.peak_rss_mb)
    named = dict(
        res["named"], setup_s=ctx.setup_s, peak_rss_mb=ctx.peak_rss_mb,
        peak_rss_python_jvm_mb=ctx.rss_split_mb,
    )
    print("perfbench", args.workload, json.dumps(named, sort_keys=True))
    if args.trace:
        layer = {k: float(res["per_layer"].get(k, 0.0)) for k in PER_LAYER}
        os.makedirs(os.path.join(BENCH_DIR, "traces"), exist_ok=True)
        with open(os.path.join(BENCH_DIR, "traces", f"{args.workload}.json"), "w") as f:
            json.dump(
                {
                    "workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "cores": ctx.cpus,
                    "end_to_end_traced": e2e, "named": named,
                    "per_layer": layer,
                    "per_layer_other": {
                        k: v for k, v in res["per_layer"].items() if k not in PER_LAYER
                    },
                },
                f, indent=1, sort_keys=True,
            )
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
