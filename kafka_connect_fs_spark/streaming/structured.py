"""Structured Streaming front-end — rotate-based ingest via readStream.

For sources where files are immutable once written (rotate, never append —
the common object-store layout), Spark's own FileStreamSource is the
idiomatic discovery mechanism: checkpointed file offsets, maxFilesPerTrigger
batching. Each micro-batch lands in the same LakeTable through an
idempotent MERGE keyed by the streaming batch_id — exactly-once without the
per-file byte offsets IngestEngine folds from the lake's log (they exist
for the *append-tail* case Spark's source cannot express; see
streaming/engine.py).

Reference parity: SimplePolicy/SleepyPolicy + rotate-only readers
(policy/SimplePolicy.java, AbstractFileReader batching) map to
Trigger.AvailableNow / Trigger.ProcessingTime + maxFilesPerTrigger.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_fs_spark.plans.lake import LakeTable


def start_rotating_ingest(
    spark: SparkSession,
    src_dir: str,
    table: LakeTable,
    schema: T.StructType,
    checkpoint_dir: str,
    fmt: str = "json",
    max_files_per_trigger: int = 100,
    available_now: bool = True,
    path_glob: str | None = None,
    options: dict | None = None,
    batch_id_prefix: str | None = None,
):
    """readStream → foreachBatch(MERGE). Returns the StreamingQuery.

    ``batch_id_prefix`` namespaces merge batch ids per QUERY. The default
    derives from the checkpoint dir, so a restart of the SAME query keeps
    its replay guard while a different query (new checkpoint) into the
    same table can never collide with epoch 0 of an earlier one — a bare
    'stream-{n}' would silently no-op the new query's first batches."""
    if batch_id_prefix is None:
        import hashlib

        batch_id_prefix = (
            "stream-" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8] + "-"
        )
    reader = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    stream = reader.load(src_dir).withColumn("_src_file", F.input_file_name())

    def apply_batch(batch_df, batch_id: int) -> None:
        # file-order-correlated ordinal, not a constant: with a constant 0
        # the LWW tiebreak (_src_file, _src_offset) ties exactly for two
        # same-ts updates in one file and the winner is arbitrary. Shifted
        # negative so a later engine-path tail read (byte offsets >= 0) of
        # the same file still outranks these rows — same convention as the
        # JVM-native reader. Applied HERE because monotonically_increasing_id
        # is not allowed on a streaming frame; inside foreachBatch the
        # frame is static.
        batch_df = batch_df.withColumn(
            "_src_offset",
            (F.monotonically_increasing_id() - F.lit(1 << 62)).cast("long"),
        )
        # idempotent under Structured Streaming's batch replay: the lake's
        # batch_id guard makes a re-delivered micro-batch a no-op
        table.merge(batch_df, batch_id=f"{batch_id_prefix}{batch_id:012d}")

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="5 seconds")
    return writer.start()
