"""Streaming sources (SURVEY §2.1 S2/S4/S8).

Production shape: Kafka —
``spark.readStream.format("kafka")`` → ``CAST(value AS STRING)`` →
``from_json`` (the Kinesis base64+JSON decode of reference
scripts/lambda1.py:26-32; the Kinesis partition key keyed by trip_id
becomes the Kafka message key). Kafka jars aren't in this image, so the
tested path is the file source over the same envelope schema — the
parser and everything downstream are identical; only ``format()``
changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import schemas
from ..functions.scalar import decode_stream_payload


def stream_trip_events(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S2: stream the interleaved trip-event envelope (TRIP_EVENT union
    schema) from a directory. Rate control ≡ the producer's 0.1 s sleep
    (reference scripts/to_kinesis.py:100) via maxFilesPerTrigger.

    KNOWN HAZARD (measured, tools/scale_streaming.py + SCALE.md): the
    file source orders micro-batches by file MODIFICATION TIME, not by
    name or content. A writer that lands files with scrambled mtimes
    (parallel writers, object-store copy tools, clock skew) can put a
    late-range file into an early micro-batch — and with a watermark
    downstream, every event in a file that surfaces after the watermark
    has passed it is dropped SILENTLY (no error, no metric). Guards,
    in preference order: (1) in production use an offset-ordered
    transport (Kafka — offsets subsume arrival order; the jar-gated
    `write_kafka`/readStream path); (2) where this engine controls the
    writes it stamps ascending mtimes in event-time order —
    `stamp_ascending_mtimes` below, used by bench.py's replay and the
    scale harness; (3) keep a single sequential writer per streamed
    directory."""
    reader = spark.readStream.schema(schemas.TRIP_EVENT).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # same required-field gate as parse_kafka_like: malformed rows
    # surface as schema-on-read nulls here (no base64 leg to reject
    # them), and without the filter a null-trip_id start and a
    # null-trip_id end would meet under the SAME group key in the
    # stateful matcher (groupBy treats null as a value) and emit a
    # bogus completed trip — the transports must agree on what gets in
    return reader.load(path).filter(_required_fields())


def _required_fields():
    """The corrupt/missing-field admission gate shared by every
    transport (reference scripts/lambda1.py:45-47, 96-101)."""
    return F.col("trip_id").isNotNull() & F.col("data_type").isNotNull()


def stamp_ascending_mtimes(
    path: str, suffix: str | None = None, base: float | None = None
) -> list[str]:
    """Re-stamp every data file under ``path`` with mtimes ascending in
    LEXICOGRAPHIC NAME order (Spark part-file numbering == write order
    == event-time range order for range-partitioned writes), one second
    apart, ending in the past. This pins micro-batch admission order to
    the order the writer intended, closing the silent-late-drop window
    documented on `stream_trip_events`. Returns the stamped paths in
    order. Local-FS only — object stores don't let you set mtimes;
    there, use an offset-ordered transport instead."""
    import time

    names = sorted(
        f
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
        and (suffix is None or f.endswith(suffix))
    )
    t0 = (time.time() - len(names) - 60) if base is None else base
    out = []
    for i, name in enumerate(names):
        p = os.path.join(path, name)
        os.utime(p, (t0 + i, t0 + i))
        out.append(p)
    return out


from contextlib import contextmanager


@contextmanager
def finite_replay(spark: SparkSession):
    """Session configuration for FINITE ``availableNow`` replays
    (round 12, guide §5 — don't pay for work the job's output never
    uses): after the last data micro-batch, the engine normally runs
    one extra NO-DATA micro-batch purely to advance the watermark —
    its jobs load and re-commit every state-store partition (measured
    on the bench replay: ~4 s of a ~16 s matcher pass, 0 input rows)
    so that (a) expired state is EVICTED and (b) append-mode
    AGGREGATION windows the watermark passed are finalized. A finite
    replay that ends with the job needs neither eviction (the state
    dies with the checkpoint's purpose) nor (for the inner-join /
    dedup / update-mode shapes this engine replays) late finalization,
    so the batch is pure end-of-replay overhead.

    USE ONLY around availableNow replays whose sinks do not rely on
    watermark-driven FINAL emission — i.e. not with APPEND-MODE
    aggregations, whose last windows only emit on a watermark advance
    (the mtime-guard test's shape). Stream-stream inner joins,
    dropDuplicates[WithinWatermark] and update-mode aggregations emit
    their rows in data batches; replay outputs under this context are
    pinned identical by the streaming suite.

    Restores the previous setting on exit; queries capture the conf at
    ``start()``, so long-running services started outside the context
    keep the default (no-data batches ON — a service DOES want state
    eviction)."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    try:
        prev = spark.conf.get(key)
    except Exception:  # pragma: no cover - conf always exists on 3.x/4.x
        prev = "true"
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def parse_kafka_like(raw: DataFrame) -> DataFrame:
    """Decode a Kafka/Kinesis-shaped stream: binary ``value`` column of
    base64 JSON → typed event columns (reference scripts/lambda1.py:26-32).
    Invalid base64 nulls the struct; invalid JSON yields an all-null
    struct (PERMISSIVE) — both are skipped by the required-field filter,
    which is exactly the reference's corrupt-record + missing-field
    handling rolled together (scripts/lambda1.py:45-47, 96-101)."""
    return (
        raw.select(
            decode_stream_payload(
                F.col("value").cast("string"), schemas.TRIP_EVENT
            ).alias("e")
        )
        .filter(F.col("e").isNotNull())
        .select("e.*")
        .filter(_required_fields())
    )


def split_start_end(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P7: route the interleaved stream by data_type
    (reference scripts/lambda1.py:39-43 picks the per-type time field)."""
    starts = events.filter(F.col("data_type") == "trip_start").select(
        *[f.name for f in schemas.TRIP_START]
    )
    ends = events.filter(F.col("data_type") == "trip_end").select(
        *[f.name for f in schemas.TRIP_END]
    )
    return starts, ends


def stream_trip_events_socket(spark, host: str, port: int) -> DataFrame:
    """S2, live-network flavor: trip events over a TCP socket — the
    Kafka-jar-free demonstration of the reference's actual ingest shape
    (a producer pushing one envelope per record over the network,
    scripts/to_kinesis.py:89-100). Spark's built-in socket source
    yields exactly the Kafka-shaped ``value`` column, so the decode /
    validate / corrupt-skip path is the SAME ``parse_kafka_like``
    the file and Kafka flavors use — swapping the transport changes
    one line, not the pipeline.

    Arrival order: every micro-batch reaches ``parse_kafka_like`` in the
    order its lines arrived on the connection. Spark's socket source
    deals a batch's lines round-robin over ``numPartitions`` input
    partitions (line *i* → partition *i mod N*, N defaulting to
    ``defaultParallelism``); downstream, the stateful operator's stable
    pre-state sort keeps map-partition order, so a key's records would
    read back as ``0,2,4,…,1,3,5,…``. Pinning ``numPartitions`` to 1
    makes the batch one input partition read in arrival order, and the
    narrow decode keeps it. The lines come off one connection on the
    driver anyway, so the wider deal bought no parallel read.

    Test harness only at this repo's scale (the socket source is
    single-connection, no replay); production transport stays Kafka
    (``streaming/sinks.py`` documents the jar gate)."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .option("numPartitions", 1)
        .load()
    )
    return parse_kafka_like(raw)
