"""Kinesis-shaped sources: the landing-dir reader and a synthetic shard.

OSS Spark has no built-in Kinesis DSv2 connector. The production
pattern — and exactly what the reference consumes (README.md:5-6:
CloudWatch Logs → Kinesis Firehose → S3 objects) — is
**Firehose-lands-to-object-store, Spark file source tails the
landing prefix**:

- the file-source checkpoint is the shard iterator + seen-files log in
  one (replacing the reference's SQLite table, kinesis-to-humio.py
  48-68);
- ``maxFilesPerTrigger`` is the batch-size throttle (the reference's
  ``--humio-batch`` analog at the file level);
- ``latestFirst=false`` preserves oldest-first ordering (K:292).

For integration tests and demos without any object store, the ``rate``
source emulates a shard: a fixed rows/sec stream whose rows this
module wraps into the same DATA_MESSAGE JSON the splitter consumes —
so the whole ingest pipeline can run against a purely synthetic
"stream" end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_runtime_confs

BINARY_FILE_SCHEMA = ("path STRING, modificationTime TIMESTAMP,"
                      " length LONG, content BINARY")


def landing_files(reader, landing: str,
                  prefix: str | None = None) -> DataFrame:
    """(path, content) rows of every file under a landing prefix (local
    dir or s3a:// URI), nested dirs included, keeping only paths that
    start with `prefix` — the one place the landing dir's read is
    defined. `reader` is ``spark.read`` or ``spark.readStream`` with
    any source options already set (``maxFilesPerTrigger``,
    ``latestFirst``); the explicit schema serves both."""
    raw = (reader.format("binaryFile").schema(BINARY_FILE_SCHEMA)
           .option("recursiveFileLookup", "true")
           .load(landing).select("path", "content"))
    if prefix:
        raw = raw.filter(F.col("path").startswith(prefix))
    return raw


def listed_paths(raw: DataFrame, prefix: str | None = None) -> list[str]:
    """Sorted `path` keys of the files a batch `landing_files` frame
    lists, 0-byte files included (the binaryFile scan drops those).
    Read from the frame's file index, so no Spark job runs; each URI
    takes the `path` column's form (``file:/a/b c``, not
    ``file:///a/b%20c``)."""
    jvm = raw.sparkSession._jvm
    Path, URI = jvm.org.apache.hadoop.fs.Path, jvm.java.net.URI
    paths = (Path(URI(u)).toString() for u in raw.inputFiles())
    return sorted(p for p in paths if not prefix or p.startswith(prefix))


def wrap_ticks_as_blocks(ticks: DataFrame, *,
                         log_group: str = "/synthetic/rate",
                         events_per_block: int = 10) -> DataFrame:
    """(value LONG, timestamp TIMESTAMP) rows → DATA_MESSAGE-shaped
    (path, content) rows consumable by the ingest splitter; every
    `events_per_block` consecutive values become one block.

    Pure JVM expressions (to_json over structs) — the emulator adds no
    Python cost, and the same transformation works on a batch frame
    (tests) or the streaming ``rate`` source (demos).
    """
    block_id = F.expr(f"value div {events_per_block}")
    event = F.struct(
        F.concat(F.lit("evt-"), F.col("value")).alias("id"),
        F.unix_millis("timestamp").alias("timestamp"),
        F.concat(F.lit("rate tick "), F.col("value")).alias("message"))
    return (ticks
            .withColumn("_block", block_id)
            .groupBy("_block")
            .agg(F.sort_array(F.collect_list(event)).alias("logEvents"))
            .select(
                F.concat(F.lit("rate://shard-0/block-"), F.col("_block"))
                 .alias("path"),
                F.encode(F.to_json(F.struct(
                    F.lit("DATA_MESSAGE").alias("messageType"),
                    F.lit("000000000000").alias("owner"),
                    F.lit(log_group).alias("logGroup"),
                    F.concat(F.lit("rate/shard-0/block-"), F.col("_block"))
                     .alias("logStream"),
                    F.array(F.lit("synthetic")).alias("subscriptionFilters"),
                    F.col("logEvents"))), "UTF-8").alias("content")))


def rate_shard_source(spark: SparkSession, *, rows_per_second: int = 100,
                      log_group: str = "/synthetic/rate",
                      events_per_block: int = 10) -> DataFrame:
    """A synthetic Kinesis shard: the streaming ``rate`` source wrapped
    into splitter-consumable blocks (update/complete sinks only — the
    wrap aggregates without a watermark)."""
    ensure_runtime_confs(spark)
    rate = (spark.readStream.format("rate")
            .option("rowsPerSecond", str(rows_per_second)).load())
    return wrap_ticks_as_blocks(rate, log_group=log_group,
                                events_per_block=events_per_block)
