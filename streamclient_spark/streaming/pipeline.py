"""End-to-end streaming pipeline assembler (SURVEY.md §3.1).

Reproduces the reference's dataflow as one checkpointed
``StreamingQuery``::

    source (typed subscription)                 ess_client.py:121-124
      → derive composite key                    ess_client.py:126
      → project/rename to the record schema     ess_client.py:133-144
      → observe metrics (count / max event ts)  ess_client.py:54-65
      → foreachBatch fan-out:
          bus publish (bulk per batch)          ess_client.py:153-155
          keyed state upsert (open/close)       ess_client.py:157-163

Differences from the reference, by design (SURVEY.md §4.2): per-batch
bulk sinks instead of per-event round-trips; checkpointed offsets +
idempotent upsert → effectively-once state (vs at-most-once); metrics
from ``df.observe`` (event-time max, fixing the set-on-arrival gauge
quirk §0.2(3)).

Per-batch job budget: at most 4 Spark jobs per micro-batch, whatever
its size (``test_pipeline_micro_batch_job_budget``):

1. the bus publish. It is the batch's first action and materializes
   the persisted batch; an ``Observation`` on it yields the
   ``PipelineMetrics`` values (count, max event ts), so they take no
   job of their own;
2. the state sink's broadcast of the batch's bucket ids, which also
   prunes the store read to the dirty buckets;
3. the sink's merge shuffle: one ``row_number`` window over store ∪
   batch folds the batch to its last change per key by event order
   and merges it with the store;
4. the sink's staged write, whose ``Observation`` names the buckets
   to swap.

Starting the pipeline raises the session's
``spark.sql.sources.parallelPartitionDiscovery.threshold`` to the
state store's bucket count (if lower), once, so that Spark lists the
store's bucket directories on the driver instead of in a fifth job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streamclient_spark.streaming.lifecycle import open_alerts_stream
from streamclient_spark.streaming.sinks import (
    PublisherFactory,
    bus_sink_batch,
    observed,
    upsert_state_batch,
)


def project_events(events: DataFrame) -> DataFrame:
    """A3+A4 over the fixture event shape: key derivation + rename to
    the flat record schema (id, state, world_id, ts...).

    ``id`` is the *alert-instance* lifecycle key (``ess_client.py:126``)
    — in the fixture domain that role is played by ``user_id`` (each
    user has a started/.../terminal event sequence, FIXTURES.md §A);
    the composite-key *derivation* operator itself is ``q_derive_key``.
    """
    return events.select(
        F.col("user_id").cast("string").alias("id"),
        F.col("event_type").alias("state"),
        F.col("user_id").alias("world_id"),
        F.col("event_id").alias("seq"),
        F.col("value").alias("xp"),
        F.col("ts"),
    )


#: hash buckets of the state store (the sink's default layout)
STATE_BUCKETS = 64


@dataclass
class PipelineMetrics:
    """A14/A15 accumulation across microbatches (driver-side listener
    state; the Prometheus endpoint of the reference becomes a metrics
    read-out of the observed values)."""

    total_events: int = 0
    last_event_ts: object = None
    batches: int = 0
    _rows: list = field(default_factory=list)

    def record(self, row) -> None:
        self.batches += 1
        self.total_events += row["n"] or 0
        if row["max_ts"] is not None and (
            self.last_event_ts is None or row["max_ts"] > self.last_event_ts
        ):
            self.last_event_ts = row["max_ts"]


def metagame_pipeline(
    events: DataFrame,
    *,
    make_publisher: PublisherFactory,
    state_path: str,
    checkpoint: str,
    open_state: str = "signup",
    metrics: PipelineMetrics | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Assemble and start the full fan-out pipeline on a streaming
    event DataFrame. Returns the started query (caller awaits/stops).

    One ``foreachBatch`` performs both sinks against the *same*
    microbatch (the reference does both in one handler, sequentially
    per event; here it is sequentially per batch with bulk calls), in
    the 4 jobs the module docstring lists.
    ``make_publisher`` is invoked per partition task on the executors —
    the bus path never funnels through the driver.
    """
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark = events.sparkSession
    if int(spark.conf.get(key)) < STATE_BUCKETS:
        spark.conf.set(key, str(STATE_BUCKETS))
    projected = project_events(events).observe(
        "pipeline_metrics",
        F.count(F.lit(1)).alias("n"),
        F.max("ts").alias("max_ts"),
    )
    bus = bus_sink_batch(make_publisher)
    upsert = upsert_state_batch(
        state_path, n_buckets=STATE_BUCKETS, tiebreak="ts_seq"
    )
    m = metrics

    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            # the publish is the batch's first job; its observation
            # carries the batch metrics, so they cost no job of their own
            seen = Observation()
            bus(
                batch_df.observe(
                    seen,
                    F.count(F.lit(1)).alias("n"),
                    F.max("ts").alias("max_ts"),
                ),
                batch_id,
            )
            # lifecycle folding: the sink's one window picks the last
            # state per key by event order (ts, seq)
            upsert(
                batch_df.select(
                    "id",
                    F.when(F.col("state") == open_state, "open")
                    .otherwise("closed")
                    .alias("state"),
                    (F.col("ts").cast("double") * 1_000_000)
                    .cast("bigint")
                    .alias("last_ts_us"),
                    F.struct("ts", "seq").alias("ts_seq"),
                ),
                batch_id,
            )
            if m is not None:
                m.record(observed(seen, n=0, max_ts=None))
        finally:
            batch_df.unpersist()

    writer = (
        projected.writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


__all__ = [
    "PipelineMetrics",
    "metagame_pipeline",
    "open_alerts_stream",
    "project_events",
]
