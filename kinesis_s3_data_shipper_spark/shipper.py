"""The shipper job as a thin CLI — the reference's operational surface
(kinesis-to-humio.py:249-295) re-expressed over this engine.

Flag parity (reference → here):
- ``--bucket``/``--prefix`` (K:256-258)   → ``--input`` dir/glob +
  ``--prefix`` filter (an s3a:// URI works unchanged on a cluster with
  the S3A connector; the listing prefix pushdown is the S3A file index)
- ``--humio-batch`` (K:265)               → ``--batch-size``
- ``--track`` (SQLite seen-files, K:48-68) → ``--processed-dir``
  (batch anti-join) or the streaming checkpoint (``--stream``)
- ``--tmpdir`` (K:269)                    → not needed (no staging;
  binaryFile streams content)
- ``--debug`` (K:268)                     → ``--debug``

Batch and ``--stream`` share one landing-dir reader; ``--stream``
refuses the batch-only ``--payloads``/``--post-url``/``--processed-dir``.

Secrets passed via ``--token`` are redacted when the config is echoed,
like the reference's pp_args (K:236-245).
"""

from __future__ import annotations

import argparse
import json
import sys

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ingest.pipeline import build_payloads, flatten_events, parse_blocks
from .ingest.splitter import split_blocks
from .ingest.tracking import filter_unprocessed, record_processed
from .session import get_session
from .sources.kinesis import landing_files, listed_paths

REDACT_KEYS = ("token", "secret", "password", "key")


def redacted(args: dict) -> dict:
    """Echo-safe config: mask any value whose flag name looks secret
    (reference parity: pp_args masks aws_access_secret / humio-token)."""
    out = {}
    for k, v in args.items():
        out[k] = "****" if any(s in k.lower() for s in REDACT_KEYS) and v else v
    return out


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m kinesis_s3_data_shipper_spark",
        description="Run the shipper ingest pipeline on Spark.")
    p.add_argument("--input", required=True,
                   help="landing directory / glob of raw shipper files "
                        "(local path or s3a:// URI)")
    p.add_argument("--output", required=True,
                   help="directory for parsed-event parquet output")
    p.add_argument("--prefix", default=None,
                   help="only process files whose path starts with this")
    p.add_argument("--batch-size", type=int, default=5000,
                   help="max events per assembled payload (default 5000, "
                        "the reference's --humio-batch default)")
    p.add_argument("--processed-dir", default=None,
                   help="batch mode: parquet dir of already-processed file "
                        "keys; matching inputs are skipped and new keys "
                        "recorded (the reference's SQLite tracking)")
    p.add_argument("--stream", action="store_true",
                   help="run as a Structured Streaming job (checkpoint "
                        "replaces --processed-dir)")
    p.add_argument("--checkpoint", default=None,
                   help="checkpoint dir (required with --stream)")
    p.add_argument("--token", default=None,
                   help="ingest-API bearer token (redacted in logs; used "
                        "by --post-url, unused by the parquet sink)")
    p.add_argument("--payloads", action="store_true",
                   help="also write assembled payload JSON (tags+events "
                        "batches) under <output>_payloads")
    p.add_argument("--post-url", default=None,
                   help="with --payloads: POST each payload to this base "
                        "URL's structured-ingest endpoint through a "
                        "per-executor pooled transport (the reference's "
                        "HTTP sink, with idempotency keys + retry)")
    p.add_argument("--debug", action="store_true")
    return p


def _read_processed(spark, processed_dir: str) -> DataFrame | None:
    """Read the processed-keys table; None only when the path doesn't
    exist yet (first run). Any OTHER failure (corrupt parquet,
    permissions, transient FS error) must fail the run — silently
    treating it as 'first run' would disable dedup tracking and
    re-append every previously-shipped file."""
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(processed_dir)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def _paths_frame(spark, paths: list[str]) -> DataFrame:
    """A one-column `path` frame, from pandas so that it plans as a
    LocalTableScan and not as a job-costing scan of a parallelized RDD."""
    return spark.createDataFrame(pd.DataFrame({"path": paths}), "path string")


def run_batch(spark, ns) -> int:
    raw = landing_files(spark.read, ns.input, ns.prefix)
    # The work list is the frame's file index, so 0-byte files (which
    # the binaryFile scan drops) are still warned about and recorded,
    # like the reference's zero-block files (K:114-115, K:172-174).
    worklist = listed_paths(raw, ns.prefix)
    if ns.processed_dir:
        processed = _read_processed(spark, ns.processed_dir)
        if processed is not None:
            worklist = sorted(r.path for r in filter_unprocessed(
                _paths_frame(spark, worklist), processed,
                key_col="path").collect())

    # The run is pinned to this sorted snapshot (the reference's
    # lexicographic work-list order, K:292): the write and the
    # processed record below see the same file set. Empty-input
    # short-circuit: reference parity, K:284-286.
    if not worklist:
        print("no unprocessed input files matched; nothing to do",
              file=sys.stderr)
        return 0
    work_df = _paths_frame(spark, worklist)
    blocks = split_blocks(raw.join(F.broadcast(work_df), "path", "left_semi"))

    # Observability (reference logs block/event counts, K:114-117, 133,
    # 170): df.observe attaches the metric to the job itself — no
    # second scan, readable after the action. collect_set(file) is
    # bounded by the run's file count (same scale as the snapshot) and
    # lets us warn per zero-output file like the reference's
    # "0 message blocks" path (K:114-115).
    from pyspark.sql import Observation
    obs = Observation("shipper")
    events = (flatten_events(parse_blocks(blocks))
              .observe(obs, F.count(F.lit(1)).alias("n_events"),
                       F.collect_set("file").alias("files_with_events")))
    events.write.mode("append").parquet(ns.output)
    metrics = obs.get
    files_with_events = set(metrics["files_with_events"])
    for path in worklist:
        if path not in files_with_events:
            print(f"warning: 0 message blocks in {path}", file=sys.stderr)
    print(json.dumps({"metrics": {
        "n_events": metrics["n_events"],
        "n_files": len(files_with_events),
        "n_files_empty": len(worklist) - len(files_with_events)}}),
        file=sys.stderr)
    if ns.payloads:
        pay = build_payloads(events, ns.batch_size)
        if ns.post_url:
            pay = pay.persist()  # one compute for both write and POST
        pay.write.mode("append").parquet(ns.output + "_payloads")
        if ns.post_url:
            from .ingest.sink import send_payloads
            from .ingest.transport import http_transport_factory
            send_payloads(pay, http_transport_factory(ns.post_url, ns.token))
            pay.unpersist()
    if ns.processed_dir:
        # The static snapshot — NOT a re-listing — becomes the record.
        record_processed(ns.processed_dir, work_df, key_col="path")
    return 0


def run_stream(spark, ns) -> int:
    from .streaming.jobs import streaming_ingest
    if not ns.checkpoint:
        print("--stream requires --checkpoint", file=sys.stderr)
        return 2
    # Batch-only options are refused, not silently dropped.
    for flag, value in (("--payloads", ns.payloads),
                        ("--post-url", ns.post_url),
                        ("--processed-dir", ns.processed_dir)):
        if value:
            print(f"{flag} is not supported with --stream", file=sys.stderr)
            return 2
    streaming_ingest(spark, ns.input, checkpoint=ns.checkpoint,
                     out_dir=ns.output, prefix=ns.prefix)
    return 0


def main(argv: list[str] | None = None) -> int:
    ns = build_parser().parse_args(argv)
    print(json.dumps(redacted(vars(ns))), file=sys.stderr)
    spark = get_session("ksds-shipper")
    if ns.debug:
        spark.sparkContext.setLogLevel("INFO")
    return run_stream(spark, ns) if ns.stream else run_batch(spark, ns)


if __name__ == "__main__":
    raise SystemExit(main())
