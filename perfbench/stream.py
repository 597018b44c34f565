"""The ``stream_catchup`` workload: backlog drain, then a live feed.

Set-up writes the generated ``events`` table as a sharded JSONL
journal (shard = ``event_id mod SHARDS``, so every shard holds the same
number of backlog events) and starts the generator process. The timed
part starts ``metagame_pipeline`` over the live-mode ``event_replay``
source at a per-shard cap of ``CAP`` rows per trigger:

1. drain: from stream start until the batch holding the last backlog
   offset is committed. The stream starts cold, as after a restart:
   its first batch pays the engine's one-time costs;
2. live: the generator feeds ``LIVE_RATE`` events a second for
   ``LIVE_SHARE`` of ``--seconds`` through
   :class:`WebsocketJournalFeeder` (shard = ``user_id mod SHARDS``);
   the run waits until every fed event is committed.

Checks, after the stream stops: every generated event id is published
on the bus exactly once; the state store equals a DuckDB derivation
over the journal; drained and fed counts equal the counts written.
Operations are the events (one failed per id not published exactly
once) plus the state check and the count check.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import statistics
import subprocess
import sys
import time
import uuid
from collections import Counter, defaultdict
from datetime import datetime

import pyarrow.parquet as pq

from perfbench.tracing import append_record, read_eventlog, read_records, wrap_upsert

SHARDS = 4
CAP = 1250
LIVE_RATE = 100.0
LIVE_SHARE = 1 / 3


def bus_publisher(out_dir: str, trace_path: str | None):
    """Publisher factory for the bus: each publish call writes its
    payloads to one file headed by the wall time of the call. With
    ``trace_path``, each call also appends its duration and size."""

    def factory():
        def publish(payloads: list[bytes]) -> None:
            t0 = time.time()
            with open(os.path.join(out_dir, f"{uuid.uuid4().hex}.jsonl"), "wb") as f:
                f.write(b"#%r\n" % t0 + b"\n".join(payloads) + b"\n")
            if trace_path:
                append_record(trace_path, {"s": time.time() - t0, "n": len(payloads)})

        return publish

    return factory


def _write_backlog(sf_dir: str, journal: str, limit: int | None = None) -> tuple[list[int], dict[str, int]]:
    """Journal the first ``limit`` generated events (all by default);
    returns (event ids, per-shard line counts)."""
    os.makedirs(journal)
    t = pq.read_table(os.path.join(sf_dir, "events.parquet")).slice(0, limit).to_pydict()
    files = [open(os.path.join(journal, f"shard-{k}.jsonl"), "w", encoding="utf-8") for k in range(SHARDS)]
    counts = {str(k): 0 for k in range(SHARDS)}
    try:
        for i, eid in enumerate(t["event_id"]):
            shard = eid % SHARDS
            files[shard].write(
                json.dumps(
                    {
                        "event_id": eid,
                        "ts": t["ts"][i].timestamp(),
                        "user_id": t["user_id"][i],
                        "event_type": t["event_type"][i],
                        "value": t["value"][i],
                        "props": t["props"][i],
                    }
                )
                + "\n"
            )
            counts[str(shard)] += 1
    finally:
        for f in files:
            f.close()
    return list(t["event_id"]), counts


def _offsets(progress: dict) -> dict[str, int]:
    end = progress["sources"][0]["endOffset"]
    if isinstance(end, str):  # the source's offset dict, as its repr
        end = ast.literal_eval(end)
    return {str(k): int(v) for k, v in (end or {}).items()}


def _batch_end(progress: dict) -> float:
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + progress["durationMs"]["triggerExecution"] / 1e3


def _wait_committed(q, target: dict[str, int], timeout: float) -> dict:
    """Poll until a finished batch's end offsets reach ``target``;
    returns that batch's progress."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        p = q.lastProgress
        if p and p.get("sources"):
            ends = _offsets(p)
            if all(ends.get(s, 0) >= n for s, n in target.items()):
                return p
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        time.sleep(0.01)
    raise TimeoutError(f"offsets {target} not committed in {timeout} s")


def _journal_counts(journal: str) -> dict[str, int]:
    out = {}
    for path in glob.glob(os.path.join(journal, "shard-*.jsonl")):
        with open(path, "rb") as f:
            out[os.path.basename(path)[6:-6]] = sum(1 for line in f if line.strip())
    return out


def _read_bus(bus_dir: str) -> list[tuple[float, int]]:
    """(publish wall time, seq) for every published payload."""
    out = []
    for path in glob.glob(os.path.join(bus_dir, "*.jsonl")):
        with open(path, "rb") as f:
            t = float(f.readline()[1:])
            out.extend((t, json.loads(line)["seq"]) for line in f if line.strip())
    return out


def _state_mismatch(spark, store: str, journal: str) -> int:
    """Rows on which the state store and the DuckDB derivation differ:
    last event per user by (ts, event_id), kept when it is a signup,
    with ``last_ts_us`` computed as the pipeline defines it."""
    import duckdb

    from streamclient_spark.streaming import read_state_store

    got = {
        (r["id"], r["state"], r["last_ts_us"])
        for r in read_state_store(spark, store).collect()
    }
    con = duckdb.connect()
    try:
        want = set(
            con.sql(
                f"""
                WITH ev AS (
                  SELECT user_id, event_id, event_type,
                         CAST(round(ts * 1e6) AS BIGINT) AS us
                  FROM read_json('{journal}/shard-*.jsonl', format='newline_delimited',
                                 columns={{event_id: 'BIGINT', ts: 'DOUBLE', user_id: 'BIGINT',
                                           event_type: 'VARCHAR', value: 'DOUBLE', props: 'VARCHAR'}})
                ), last AS (
                  SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
                  FROM ev
                )
                SELECT CAST(user_id AS VARCHAR), 'open',
                       CAST(trunc(CAST(us AS DOUBLE) / 1e6 * 1e6) AS BIGINT)
                FROM last WHERE rn = 1 AND event_type = 'signup'
                """
            ).fetchall()
        )
    finally:
        con.close()
    return len(got ^ want)


def run(ctx) -> dict:
    from streamclient_spark.sources.replay import EventReplayDataSource
    from streamclient_spark.streaming.pipeline import PipelineMetrics, metagame_pipeline

    spark, trace = ctx.spark, ctx.trace
    work = os.path.join(ctx.work, "run")
    journal, bus_dir, store = (os.path.join(work, n) for n in ("journal", "bus", "store"))
    backlog_ids, backlog_counts = _write_backlog(ctx.sf_dir, journal)
    os.makedirs(bus_dir)
    n_backlog = len(backlog_ids)
    n_live = round(LIVE_RATE * ctx.seconds * LIVE_SHARE)
    first_live = max(backlog_ids) + 1
    n_users = max(1, pq.read_metadata(os.path.join(ctx.sf_dir, "customer.parquet")).num_rows // 10)
    ready, go, gen_out = (os.path.join(work, n) for n in ("gen.ready", "gen.go", "gen.json"))
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
            "--journal", journal, "--shards", str(SHARDS), "--rate", str(LIVE_RATE),
            "--count", str(n_live), "--first-id", str(first_live),
            "--users", str(n_users), "--seed", str(ctx.seed),
            "--ready", ready, "--go", go, "--out", gen_out,
        ]
    )
    try:
        transport = "streamclient_spark.sources.transport:file_journal_transport"
        src_trace = pub_trace = None
        upsert_counters: dict[str, float] = defaultdict(float)
        if trace:
            src_trace = os.path.join(work, "sources.jsonl")
            pub_trace = os.path.join(work, "publish.jsonl")
            transport = "perfbench.tracing:timed_journal_transport"
            wrap_upsert(upsert_counters)
        spark.dataSource.register(EventReplayDataSource)
        reader = (
            spark.readStream.format("event_replay")
            .option("mode", "live")
            .option("journal_dir", journal)
            .option("max_per_shard_batch", str(CAP))
            .option("transport", transport)
        )
        if src_trace:
            reader = reader.option("perfbench_trace", src_trace)
        deadline = time.monotonic() + 60
        while not os.path.exists(ready):
            if gen.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError("generator did not start")
            time.sleep(0.005)
        ctx.mark_setup_done()

        metrics = PipelineMetrics()
        t_start = time.time()
        q = metagame_pipeline(
            reader.load(),
            make_publisher=bus_publisher(bus_dir, pub_trace),
            state_path=store,
            checkpoint=os.path.join(work, "ckpt"),
            open_state="signup",
            metrics=metrics,
        )
        try:
            drained = _wait_committed(q, backlog_counts, 150)
            t_drained = _batch_end(drained)
            with open(go, "w") as f:
                f.write("go\n")
            gen.wait(timeout=ctx.seconds * LIVE_SHARE + 60)
            _wait_committed(q, _journal_counts(journal), 60)
            progress = q.recentProgress
            group = str(q.runId)
            stream_jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        finally:
            q.stop()
            q.awaitTermination(60)

        # ---- checks (outside the timed region)
        with open(gen_out, encoding="utf-8") as f:
            gen_info = json.load(f)
        published = _read_bus(bus_dir)
        seqs = Counter(seq for _, seq in published)
        expected = set(backlog_ids) | set(range(first_live, first_live + n_live))
        failed_events = sum(1 for e in expected if seqs.get(e) != 1)
        failed_events += sum(n for s, n in seqs.items() if s not in expected)
        data = [p for p in progress if p.get("numInputRows")]
        drain = [p for p in data if p["batchId"] <= drained["batchId"]]
        counts_ok = (
            sum(p["numInputRows"] for p in drain) == n_backlog
            and metrics.total_events == n_backlog + n_live
            and gen_info["written"] == n_live
            and sum(_journal_counts(journal).values()) == n_backlog + n_live
        )
        state_bad = _state_mismatch(spark, store, journal)
        if not counts_ok or state_bad:
            print(f"stream check: counts_ok={counts_ok} state_mismatch_rows={state_bad}")
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()

    first_pub = {}
    for t, seq in published:
        first_pub[seq] = min(t, first_pub.get(seq, t))
    t0 = gen_info["t0"]
    lat = [
        first_pub[e] - round((t0 + (e - first_live) / LIVE_RATE) * 1e6) / 1e6
        for e in range(first_live, first_live + n_live)
        if e in first_pub
    ]
    drain_s = t_drained - t_start
    e2e = {
        "round_s": statistics.median(p["durationMs"]["triggerExecution"] for p in drain) / 1e3,
        "op_latency_s": statistics.median(lat),
        "throughput_per_s": n_backlog / drain_s,
    }
    named = {
        "drain_events_per_s": e2e["throughput_per_s"],
        "drain_s": drain_s,
        "drain_batch_s": e2e["round_s"],
        "live_latency_p50_s": e2e["op_latency_s"],
        "live_latency_p90_s": statistics.quantiles(lat, n=10)[-1],
        "backlog_events": n_backlog,
        "live_events": n_live,
    }
    per_layer = {}
    if trace:
        per_layer = _layer_metrics(
            ctx, store, journal, progress, drain, stream_jobs, group, gen_info,
            src_trace, pub_trace, backlog_counts, t_drained, upsert_counters,
        )
    return {
        "attempted": len(expected) + 2,
        "failed": failed_events + (not counts_ok) + (state_bad > 0),
        "correct": True,
        "e2e": e2e, "named": named, "per_layer": per_layer,
    }


def _line_bytes(path: str) -> list[int]:
    """Prefix sums of line lengths: bytes of lines [lo, hi) are
    ``out[hi] - out[lo]``."""
    out = [0]
    with open(path, "rb") as f:
        for line in f:
            out.append(out[-1] + len(line))
    return out


def _layer_metrics(
    ctx, store, journal, progress, drain, stream_jobs, group, gen_info,
    src_trace, pub_trace, backlog_counts, t_drained, upsert_counters,
) -> dict[str, float]:
    out: dict[str, float] = {}
    rows = ctx.spark.read.parquet(store).count()
    files = [p for p in glob.glob(os.path.join(store, "**"), recursive=True) if os.path.isfile(p)]
    out["state.rows"] = rows
    out["state.files"] = sum(1 for p in files if p.endswith(".parquet"))
    out["state.mb"] = sum(os.path.getsize(p) for p in files) / 1e6

    data = [p for p in progress if p.get("numInputRows")]
    out["stream.drain_batches"] = len(drain)
    ran = {p["batchId"] for p in progress if "addBatch" in p["durationMs"]}
    out["stream.jobs_per_batch"] = stream_jobs / len(ran)
    out["stream.batches"] = [
        [p["batchId"], p["numInputRows"], p["durationMs"]] for p in progress
    ]
    for phase in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "triggerExecution"):
        out[f"stream.{phase}_ms"] = statistics.median(p["durationMs"].get(phase, 0) for p in data)

    # sources: the drain's calls only, so the counts do not depend on
    # how the live phase happened to batch
    recs = read_records(src_trace)
    fetch = [
        r for r in recs
        if r["op"] == "fetch" and r["hi"] <= backlog_counts[str(r["shard"])]
    ]
    latest = [r for r in recs if r["op"] == "latest" and r["at"] <= t_drained]
    prefix = {
        s: _line_bytes(os.path.join(journal, f"shard-{s}.jsonl")) for s in backlog_counts
    }
    useful = sum(prefix[str(r["shard"])][r["hi"]] - prefix[str(r["shard"])][r["lo"]] for r in fetch)
    out["sources.latest_s"] = sum(r["s"] for r in latest)
    out["sources.latest_calls"] = len(latest)
    out["sources.latest_bytes_read"] = sum(r["bytes"] for r in latest)
    out["sources.fetch_s"] = sum(r["s"] for r in fetch)
    out["sources.fetch_calls"] = len(fetch)
    out["sources.fetch_rows"] = sum(r["rows"] for r in fetch)
    out["sources.fetch_bytes_read"] = sum(r["bytes"] for r in fetch)
    out["sources.fetch_useful_ratio"] = useful / max(1, out["sources.fetch_bytes_read"])

    pubs = read_records(pub_trace)
    out["sinks.publish_s"] = sum(r["s"] for r in pubs)
    out["sinks.published"] = sum(r["n"] for r in pubs)
    out["sinks.upsert_s"] = upsert_counters["sinks.upsert_s"]
    out["sinks.upsert_calls"] = upsert_counters["sinks.upsert_calls"]
    out["gen.events"] = gen_info["written"]
    out["gen.lag_p99_ms"] = gen_info["lag_p99_ms"]

    ctx.stop_spark()
    spark_totals = read_eventlog(ctx.eventlog_dir).get(group, {})
    for k in ("stages", "tasks", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_cpu_s", "gc_s"):
        out[f"spark.{k}"] = spark_totals.get(k, 0.0)
    return out
