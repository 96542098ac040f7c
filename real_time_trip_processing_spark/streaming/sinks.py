"""Stream sinks (SURVEY §2.1 S5/S6/S8).

S5/S6 (durable upsert/put with retries) are subsumed by Spark's
exactly-once sink protocol: ``writeStream.format("parquet"/"delta")
.option("checkpointLocation", …)`` — batching, retry and idempotence
are the commit protocol's job, not application code (used directly in
tests/test_streaming.py and pipeline.py).

S8 is the keyed message producer: the reference emits one JSON record
per row to Kinesis partitioned by trip_id at a fixed rate
(scripts/to_kinesis.py:38-100). Kafka-shaped equivalent below; the
Kafka jars aren't in this image, so ``write_kafka`` gates on the
format's availability while ``to_keyed_messages`` (all the actual
logic) is fully testable.

The SEMANTICS the key buys — a consumer sees each key's records in
producer order (Kinesis's per-PartitionKey / Kafka's per-partition
guarantee) — is proven end-to-end without a broker:
tests/test_streaming.py::test_keyed_stream_per_key_order_to_state_store
interleaves two keys over the live TCP transport and asserts each
key's exact producer order at the state store, across micro-batches.
The mechanism is a stable pre-state sort on the grouping key over
upstream partitions that are each read in arrival order. Spark's socket
source deals a batch's lines round-robin over its input partitions, so
``stream_trip_events_socket`` pins it to one partition to keep that
order (see its docstring). On the Kafka path each topic-partition is
one input partition read in offset order, and the key-hashed producer
partitioner puts all of a key's records in one topic-partition, so the
argument transfers verbatim; only the literal broker is missing from
this image.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _table_dir_exists(batch_df: DataFrame, path: str) -> bool:
    jvm = batch_df.sparkSession.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(
        batch_df.sparkSession.sparkContext._jsc.hadoopConfiguration()
    )
    return bool(fs.exists(hpath))


def _skip_table_creating_empty_batch(batch_df: DataFrame, path: str) -> bool:
    """True iff this batch is empty AND the table dir does not exist
    yet — the one case an empty dynamic-overwrite write does harm
    (it creates a schema-less dir — _SUCCESS, no partitions — that
    breaks readers on schema inference until data lands). The
    emptiness probe (`isEmpty`) runs a limit-1 job whose row read
    INFLATES the epoch's numInputRows metric, so it is gated behind
    the FS existence check: steady-state batches (dir present) pay
    nothing and report exact metrics — an empty write against an
    existing table is already a harmless no-op (no partitions in the
    output → nothing replaced)."""
    return not _table_dir_exists(batch_df, path) and batch_df.isEmpty()


def to_keyed_messages(df: DataFrame, key_col: str) -> DataFrame:
    """S8 projection: (key, value) message frame — key = partition key
    (trip_id ≡ the Kinesis PartitionKey, scripts/to_kinesis.py:66),
    value = the full row as JSON."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )


def write_daily_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "pickup_datetime",
    mode: str = "append",
) -> None:
    """Lake layout for the completed-trips table: Hive-partitioned by
    (year, month, day) of the event time — the batch twin of the
    reference's dated S3 prefixes (scripts/glue_scripts.py:16-24).
    Reading back gets directory-level partition pruning: a one-day KPI
    query scans 1/365th of a year's lake (SCALE.md "Scans")."""
    (
        df.withColumn("year", F.date_format(ts_col, "yyyy"))
        .withColumn("month", F.date_format(ts_col, "MM"))
        .withColumn("day", F.date_format(ts_col, "dd"))
        .write.mode(mode)
        .partitionBy("year", "month", "day")
        .parquet(path)
    )


def upsert_foreach_batch(path: str):
    """S5/S6 for non-transactional stores: a ``foreachBatch`` function
    that lands each micro-batch in its own ``__batch_id`` partition
    with DYNAMIC partition overwrite. A retried batch (same batch_id —
    Spark replays the identical data from the checkpointed offsets)
    overwrites its own partition instead of appending a duplicate:
    at-least-once delivery + idempotent write = exactly-once table
    contents, the reference's (PK,SK)-overwrite trick
    (scripts/lambda1.py:104-205) without application-level retries.

    Use: ``writeStream.foreachBatch(upsert_foreach_batch(p)).start()``;
    read the table back with ``spark.read.parquet(p)``.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_table_creating_empty_batch(batch_df, path):
            # replay-safe: emptiness is deterministic from the
            # checkpointed offsets, so a replayed batch skips too
            return
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(path)
        )

    return write_batch


def keyed_upsert_foreach_batch(path: str, key_cols: list[str]):
    """Key-addressed upsert for UPDATE-mode streaming aggregates: each
    micro-batch's changed rows overwrite exactly their own key
    partitions (dynamic partition overwrite, one directory per key
    tuple), so the parquet table always holds the LATEST aggregate
    state per key — a materialized view maintained by the stream.

    This is how a continuous aggregate (e.g. ``streaming_kpi_15min``)
    lands in a plain parquet lake: late events re-emit their bucket and
    the bucket's partition is replaced, never duplicated. Idempotent
    under batch replay for the same reason as ``upsert_foreach_batch``.
    Partition count = key cardinality — right for rollup keys
    (time-bucket × type), wrong for row-grain keys (use the batch-id
    flavor there).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _skip_table_creating_empty_batch(batch_df, path):
            return  # see _skip_table_creating_empty_batch
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*key_cols)
            .parquet(path)
        )

    return write_batch


def write_kafka(
    df: DataFrame,
    key_col: str,
    topic: str,
    bootstrap_servers: str,
    checkpoint: str,
    max_offsets_per_trigger: int | None = None,
):
    """Start the keyed stream sink. Rate limiting ≡ the producer's
    0.1 s/record sleep is expressed on the *source* side
    (maxOffsetsPerTrigger) — sinks drain whatever the trigger admits."""
    writer = (
        to_keyed_messages(df, key_col)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
    try:
        return writer.start()
    except Exception as e:  # pragma: no cover - kafka jars absent here
        # only the missing-data-source failure is the jar gate; a bad
        # checkpoint path, unreachable broker or schema problem must
        # surface as ITSELF, not send the operator hunting a classpath
        # problem that does not exist
        msg = str(e)
        if "Failed to find" in msg and "kafka" in msg.lower():
            raise NotImplementedError(
                "kafka sink requires the spark-sql-kafka package on the "
                "classpath (not available in this environment)"
            ) from e
        raise


def stream_committed_watermark(spark, checkpoint_dir: str) -> int | None:
    """The batch id through which a structured-streaming query's
    checkpoint has COMMITTED — the safe watermark the dedup-index
    lifecycle ops require (``streaming.dedup.compact_dedup_index``'s
    ordering contract says "only compact batches the stream's
    CHECKPOINT has committed" and `dedup_index_stats` warns that its
    ``max_batch_id`` is an FS observation, not commitment; this is the
    executable form of that advice).

    Reads the checkpoint's ``commits/`` log — Spark's public layout
    since 2.1 (``org.apache.spark.sql.execution.streaming
    .CommitLog``): ``offsets/<b>`` is the write-ahead intent written
    BEFORE batch ``b`` runs, ``commits/<b>`` lands only AFTER the
    batch — including its foreachBatch body — completed. On restart
    Spark re-runs exactly the batches with an offset but no commit,
    so ``max(commits/)`` can never replay and is the largest value
    safe to pass as ``through_batch``. Names are bare integers; the
    temp files the HDFSMetadataLog writes first (``.<b>.tmp...``) are
    dot-prefixed and skipped by the integer parse.

    Returns None when no batch has committed yet (fresh or absent
    checkpoint) — callers must treat that as "nothing is safe to
    fold", NOT as batch 0."""
    from ..fsio import _fs_path

    fs, _p, jvm = _fs_path(spark, checkpoint_dir)
    commits = jvm.org.apache.hadoop.fs.Path(
        checkpoint_dir.rstrip("/") + "/commits"
    )
    if not fs.exists(commits):
        return None
    best = None
    for st in fs.listStatus(commits):
        name = str(st.getPath().getName())
        if name.isdigit():
            bid = int(name)
            if best is None or bid > best:
                best = bid
    return best
