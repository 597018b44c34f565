"""Streaming sinks: message-bus fan-out and keyed upsert state store.

The reference fans each event out to (a) a RabbitMQ DIRECT exchange
(``/root/reference/services/RabbitService.py:24-35``) and (b) a keyed
Mongo collection (``services/AlertService.py:26-36``), one awaited
network round-trip per event each. The Spark rebuild replaces both with
``foreachBatch`` — per-microbatch *bulk* operations with checkpointed
offsets:

- bus sink: at-least-once (batch may be re-published on retry after a
  crash; consumers dedupe on the event key)
- state sink: effectively-once (keyed upsert is idempotent and
  last-writer-deterministic, so retried batches converge)

which is strictly stronger than the reference's at-most-once posture
(SURVEY.md §4.2).

Scale notes:

- The bus publisher runs **per partition task on the executors**
  (``mapInArrow``): each task builds its own producer via the
  injected factory and publishes its partition's payloads — the
  standard producer-per-task shape of the Kafka sink. Nothing flows
  through the driver, so driver memory and the driver NIC are not a
  throughput ceiling. The canonical production sink is
  ``writeStream.format('kafka')`` (same shape, broker-side batching).
- The state store is a **hash-bucketed keyed parquet table**
  (``bucket=pmod(xxhash64(key), n)``). Each microbatch rewrites *only
  the buckets its keys hash into* — O(|batch| + touched store
  fraction) I/O, not O(|store|) — and each bucket swap is an atomic
  directory rename. At 100 TB the function body becomes ``MERGE INTO``
  on a transactional table (Delta/Iceberg) with the same call
  signature; bucketing by key is also exactly the layout MERGE wants.
- Every sink evaluates its batch once, in its staged write, finds its
  dirty partitions without a job of its own and reads its store with
  a known schema. The upsert sink runs 3 jobs a batch (one more when
  Spark lists the store's bucket directories in a job of its own);
  with the bus publish that is the pipeline's 4 (see
  ``streaming.pipeline``).
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

#: Per-partition publisher: receives one list of serialized payloads.
Publisher = Callable[[list[bytes]], None]

#: Zero-arg factory invoked ON THE EXECUTOR once per partition task to
#: build the producer (AMQP/Kafka client in production, a file/queue
#: collector in tests). Must be picklable.
PublisherFactory = Callable[[], Publisher]


def to_wire(df: DataFrame) -> DataFrame:
    """Serialize rows to the JSON wire format (A5: asdict + json.dumps,
    ess_client.py:147-148) — ``to_json(struct(*))`` JVM-side."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("payload"))


def bus_sink_batch(
    make_publisher: PublisherFactory,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function publishing each microbatch to a message
    bus (A6), distributed: every partition task constructs a publisher
    from the factory and bulk-publishes its own rows. Payloads never
    transit the driver; the driver collects one count per partition.

    The publish is one Dataset action (``mapInArrow`` + ``collect``),
    not ``foreachPartition``: an ``Observation`` on ``batch_df`` is
    filled only by a Dataset action, so observed batch metrics ride
    this job instead of needing one of their own."""

    def _publish_partition(batches: Iterator) -> Iterator:
        import pyarrow as pa

        payloads = [
            p.encode("utf-8")
            for rb in batches
            for p in rb.column(0).to_pylist()
        ]
        if payloads:
            make_publisher()(payloads)
        yield pa.RecordBatch.from_pydict({"n": [len(payloads)]})

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        to_wire(batch_df).mapInArrow(_publish_partition, "n long").collect()

    return _sink


def collecting_publisher_factory(out_dir: str) -> PublisherFactory:
    """Test/diagnostic publisher factory: each partition publish writes
    its payload batch to one uniquely-named file under ``out_dir``
    (newline-framed). Executor-safe — the observable analog of a broker
    for unit tests; production injects an AMQP/Kafka producer factory
    instead."""

    def factory() -> Publisher:
        def publish(payloads: list[bytes]) -> None:
            os.makedirs(out_dir, exist_ok=True)
            name = f"{os.getpid()}-{uuid.uuid4().hex}.jsonl"
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(b"\n".join(payloads) + b"\n")

        return publish

    return factory


def read_published(out_dir: str) -> list[bytes]:
    """Read back everything a :func:`collecting_publisher_factory` sink
    wrote, in no particular order (the bus is unordered across
    partitions by design)."""
    payloads: list[bytes] = []
    if not os.path.isdir(out_dir):
        return payloads
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as f:
            payloads.extend(line for line in f.read().splitlines() if line)
    return payloads


def _stage_swap(
    df: DataFrame,
    store_path: str,
    partition_by: list[str],
    tag: str,
    dirty: Callable[[str], Iterable[str]],
) -> None:
    """Write ``df`` partitioned by ``partition_by`` to a staging
    directory beside ``store_path``, then move each directory that
    ``dirty(stage)`` names (paths relative to both roots, asked for
    after the write) into the store with an atomic rename. A named
    directory the stage lacks is removed from the store: every key in
    it was deleted. The stage is removed on every way out."""
    tmp = f"{store_path}.{tag}-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
    try:
        for rel in dirty(tmp):
            src = os.path.join(tmp, rel)
            dst = os.path.join(store_path, rel)
            old = dst + ".old"
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(dst):
                os.rename(dst, old)
            if os.path.exists(src):
                os.rename(src, dst)
            shutil.rmtree(old, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def observed(seen: Observation, **empty) -> dict:
    """``seen.get``, or ``empty`` when Spark dropped the observation
    from a plan it proved empty (no row flowed through it).

    A shim for Spark 4.1 (checked on 4.1.2): when the optimizer
    replaces a plan it proves empty (a window over a statically empty
    batch) with an empty relation, the observation's ``CollectMetrics``
    node goes with it, yet the observation is still completed, with a
    row of no fields. ``Observation.get`` then fails converting that
    row (``PythonSQLUtils.toPyRow``), and PySpark offers no public way
    to tell, so this asks PySpark's private JVM handle ``_jo`` for the
    row's width. ``test_upsert_sink_equals_python_last_writer_fold``
    covers the case; recheck it on a Spark upgrade."""
    return seen.get if seen._jo.getRow().length() else empty


def _listed(root: str, prefix: str) -> list[str]:
    """Partition directories ``prefix*`` under ``root`` (none when it
    does not exist), without a swap's leftover ``.old`` copies."""
    if not os.path.isdir(root):
        return []
    return [
        n
        for n in os.listdir(root)
        if n.startswith(prefix) and not n.endswith(".old")
    ]


def _dirty_store(store_path: str, batch: DataFrame, n_buckets: int) -> DataFrame:
    """The store's rows in the buckets ``batch`` touches, read with
    ``batch``'s schema (no inference job). The semi join on the
    partition column becomes a dynamic pruning filter reusing the
    join's broadcast of the batch's bucket ids (Spark adds it only when
    that side has a predicate: the always-true range check). Spark
    lists the bucket directories on the driver up to
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` of them
    and in a listing job above it (``metagame_pipeline`` raises it to
    its bucket count)."""
    ids = batch.select("bucket").filter(F.col("bucket") < n_buckets)
    store = batch.sparkSession.read.schema(batch.schema).parquet(store_path)
    return store.join(ids, "bucket", "left_semi")


def upsert_state_batch(
    store_path: str,
    key_col: str = "id",
    tombstone: str = "closed",
    ts_col: str = "last_ts_us",
    n_buckets: int = 64,
    tiebreak: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` keyed upsert into a bucketed parquet state
    table: rows with ``state == tombstone`` delete their key (A8), all
    others insert/replace it (A7).

    Determinism and ordering guarantees, all from ONE ``row_number``
    over store ∪ batch per key, ordered by (``ts_col`` desc, batch
    before store, ``tiebreak`` desc, ``state`` desc):

    - **In-batch reduce**: one winner per key by ``max(ts_col)``; equal
      ``ts_col`` goes to the highest ``tiebreak`` (a batch-only column,
      dropped before the write — the pipeline passes the event order),
      then to ``state`` descending — never ``dropDuplicates``, whose
      survivor depends on partition arrival order.
    - **Cross-batch guard**: a store row is only replaced by a change
      with ``ts_col`` >= the stored one, so a late microbatch carrying
      an older change cannot clobber newer state (complements the same
      guard inside the lifecycle operator).
    - **Idempotence**: re-applying a batch yields the identical store
      (batch wins ties against the store with equal rows) →
      effectively-once under retries.

    Cost: the batch is evaluated once, by the staged write, which runs
    3 jobs (the broadcast of the batch's bucket ids, the merge shuffle
    and the write; see :func:`_dirty_store` for a fourth). The store read has a known schema and is pruned to
    the dirty buckets by :func:`_dirty_store`; the write fills an
    ``Observation`` of the batch's bucket ids, which names the buckets
    to swap. Untouched buckets are neither read nor rewritten, and each
    dirty bucket is rewritten as one file. The 100 TB path is ``MERGE INTO``
    on a transactional table — same signature, same bucketed layout.
    """

    extra = [tiebreak] if tiebreak else []

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy("bucket", key_col).orderBy(
            F.desc(ts_col), F.desc("_src"), *map(F.desc, extra), F.desc("state")
        )
        batch = batch_df.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
        )
        seen = Observation()
        combined = batch.observe(
            seen, F.collect_set("bucket").alias("b")
        ).withColumn("_src", F.lit(1))
        if _listed(store_path, "bucket="):
            store = _dirty_store(store_path, batch.drop(*extra), n_buckets)
            combined = combined.unionByName(
                store.withColumn("_src", F.lit(0)),
                allowMissingColumns=True,
            )
        # the merge shuffle clusters by bucket (the window's (bucket,
        # key) partitioning rides it), so each dirty bucket is written
        # as one file; a fixed width keeps the write parallel where AQE
        # would coalesce a small batch into one writing task
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        merged = (
            combined.repartition(width, "bucket")
            .withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("state") != tombstone))
            .drop("_rn", "_src", *extra)
        )
        _stage_swap(
            merged, store_path, ["bucket"], f"stage-{batch_id}",
            lambda _: [f"bucket={b}" for b in observed(seen, b=[])["b"]],
        )

    return _sink


def read_state_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Point-in-time view of the materialized keyed state — the surface
    the reference's ``Alert.read_*`` CRUD API queries (A9-A12); here it
    is a plain DataFrame, so predicates/limits/counts are Catalyst
    expressions (see q_point_lookup / q_filter_limit / q_count_where).
    The internal ``bucket`` layout column is dropped."""
    df = spark.read.parquet(store_path)
    return df.drop("bucket") if "bucket" in df.columns else df


# ---------------------------------------------------------------------------
# Incremental continuous aggregate (streaming twin of q_events_hourly_rollup)
# ---------------------------------------------------------------------------


def rollup_sink_batch(
    store_path: str,
    ts_col: str = "ts",
    value_col: str = "value",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` maintenance of an hourly rollup table — the
    continuous-aggregate pattern (TimescaleDB caggs / Druid rollup)
    over Structured Streaming: each microbatch appends its OWN hourly
    partial slice; readers merge slices with the measures' own
    associativity. All measures are mergeable by construction — count,
    exact-decimal sum, max — the same doctrine as the batch
    q_events_hourly_rollup, so merge order/retries cannot change the
    final values.

    Idempotence without transactions: the batch's partials land under
    ``hour=H/batch=B`` and the per-directory swap is an atomic rename
    that REPLACES any existing ``batch=B`` slice — a retried batch
    overwrites itself instead of double-counting (sums are not
    idempotent, so upsert-style merging would be wrong here; the
    partial-log layout is what makes replays safe). Storage is
    O(touched hours) per batch; :func:`compact_rollup` folds old
    slices into a base slice (``batch=-1``) so the log never grows
    unboundedly; :func:`read_rollup` is the merge-on-read view. At
    100 TB the layout doubles as partition pruning: a dashboard query
    for one day reads 24 hour-directories."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.groupBy(
                (
                    F.floor(F.unix_timestamp(F.date_trunc("hour", ts_col)))
                ).alias("hour")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(value_col).cast("decimal(27,4)")).alias("sv"),
                F.max(value_col).alias("mx"),
            )
            .withColumn("batch", F.lit(batch_id))
        )
        # every hour the batch touches has a slice, so the stage's own
        # hour dirs are the dirty set: the write is the only job
        _stage_swap(
            partials, store_path, ["hour", "batch"], f"stage-{batch_id}",
            lambda tmp: [
                os.path.join(h, f"batch={batch_id}")
                for h in _listed(tmp, "hour=")
            ],
        )

    return _sink


def read_rollup(spark: SparkSession, store_path: str) -> DataFrame:
    """Merge-on-read view of the hourly rollup: fold all partial slices
    per hour. Count/sum/max are associative (the sum in exact decimal
    space), so this equals the single-pass batch aggregate regardless
    of how microbatches split the data."""
    return (
        spark.read.parquet(store_path)
        .groupBy("hour")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sv").alias("sv"),
            F.max("mx").alias("mx"),
        )
    )


def compact_rollup(spark: SparkSession, store_path: str) -> None:
    """Fold every hour's slices into a single base slice
    (``batch=-1``) — bounded storage for the partial log. Safe to run
    between batches: the fold is the same associative merge
    :func:`read_rollup` performs, and each hour's swap is atomic."""
    hours = _listed(store_path, "hour=")
    if not hours:
        return
    base = (
        spark.read.parquet(store_path)
        .groupBy("hour")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sv").alias("sv"),
            F.max("mx").alias("mx"),
        )
        .withColumn("batch", F.lit(-1))
    )
    _stage_swap(base, store_path, ["hour", "batch"], "compact", lambda _: hours)


# ---------------------------------------------------------------------------
# SCD2 keyed history (type-2 slowly-changing dimension maintenance)
# ---------------------------------------------------------------------------


def scd2_sink_batch(
    store_path: str,
    key_col: str = "id",
    ts_col: str = "last_ts_us",
    n_buckets: int = 64,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` maintenance of a type-2 slowly-changing
    dimension: instead of overwriting keyed state (upsert_state_batch),
    every change APPENDS a version row with a validity interval —
    ``[valid_from_us, valid_to_us)``, ``valid_to_us`` NULL for the
    current version — so point-in-time queries ("what was this alert's
    state at T?") are a plain interval predicate. This is the history
    twin of the reference's keyed store (SURVEY.md §2A A7/A8): the
    reference forgets terminal alerts; the SCD2 table remembers every
    transition.

    Semantics per key and batch:

    - batch changes are ordered by (``ts_col``, state) and chained:
      each change closes its predecessor's interval at its own ts;
    - the stored CURRENT version is closed by the first strictly-newer
      batch change; changes at or before the current version's
      ``valid_from_us`` are ignored (the late-event guard — same
      doctrine as the lifecycle operator's event-order guard), which
      also makes full-batch replays no-ops → effectively-once;
    - equal-ts duplicates within a batch collapse to one version
      (deterministic keep: highest state string, mirroring the upsert
      sink's tie rule).

    I/O is the dirty-bucket discipline of upsert_state_batch: only the
    hash buckets containing this batch's keys are read, merged, and
    atomically swapped. At 100 TB the function body becomes MERGE INTO
    plus INSERT on a transactional table; the interval columns and the
    bucketed-by-key layout are exactly what that MERGE wants."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        bucket_of = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))

        # collapse equal-ts duplicates, then chain versions in ts order
        w_dedup = Window.partitionBy(key_col, ts_col).orderBy(
            F.desc("state")
        )
        w_chain = Window.partitionBy(key_col).orderBy(
            F.asc("valid_from_us")
        )
        changes = (
            batch_df.withColumn("_rn", F.row_number().over(w_dedup))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .select(
                F.col(key_col),
                "state",
                F.col(ts_col).alias("valid_from_us"),
            )
            .withColumn(
                "valid_to_us", F.lead("valid_from_us").over(w_chain)
            )
            .withColumn("bucket", bucket_of)
        )
        if _listed(store_path, "bucket="):
            store = _dirty_store(store_path, changes, n_buckets)
            current = store.filter(F.col("valid_to_us").isNull())
            # first strictly-newer change per key closes the current row
            firsts = (
                changes.groupBy(key_col)
                .agg(F.min("valid_from_us").alias("_first_ts"))
            )
            closed = current.join(firsts, key_col, "left").select(
                key_col,
                "state",
                "valid_from_us",
                F.when(
                    F.col("_first_ts") > F.col("valid_from_us"),
                    F.col("_first_ts"),
                )
                .otherwise(F.lit(None))
                .alias("valid_to_us"),
                "bucket",
            )
            # late-event guard: drop batch changes not strictly newer
            # than the stored current version
            guard = current.select(
                key_col, F.col("valid_from_us").alias("_cur_from")
            )
            fresh = (
                changes.join(guard, key_col, "left")
                .filter(
                    F.col("_cur_from").isNull()
                    | (F.col("valid_from_us") > F.col("_cur_from"))
                )
                .drop("_cur_from")
            )
            merged = (
                store.filter(F.col("valid_to_us").isNotNull())
                .unionByName(closed)
                .unionByName(fresh)
            )
        else:
            merged = changes

        # history only grows: every dirty bucket keeps rows, so the
        # stage's own bucket dirs are the dirty set
        _stage_swap(
            merged, store_path, ["bucket"], f"stage-{batch_id}",
            lambda tmp: _listed(tmp, "bucket="),
        )

    return _sink


def read_scd2_asof(
    spark: SparkSession, store_path: str, at_us: int
) -> DataFrame:
    """Point-in-time view of the SCD2 history: the version of each key
    valid at ``at_us`` — one interval predicate, partition-prunable by
    bucket when a key filter is present."""
    df = spark.read.parquet(store_path)
    return df.filter(
        (F.col("valid_from_us") <= at_us)
        & (F.col("valid_to_us").isNull() | (F.col("valid_to_us") > at_us))
    ).drop("bucket")
