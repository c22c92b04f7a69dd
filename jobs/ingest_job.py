#!/usr/bin/env python
"""Cluster entry point: run the ingest engine under spark-submit.

    zip -r kcfs.zip kafka_connect_fs_spark
    spark-submit --py-files kcfs.zip \
        [--packages org.apache.spark:spark-avro_2.13:4.0.0] \
        jobs/ingest_job.py \
        --uris s3://bucket/transcripts/ --format jsonl \
        --schema-json schema.json \
        --table s3://bucket/lake/transcripts \
        --checkpoint s3://bucket/ckpt/transcripts \
        --policy sleepy --sleep 30 --n-buckets 1024

Nothing in the engine depends on local mode: parallelism comes from file/
byte-range splits and key bucketing, and the commit protocol uses the same
atomic-create primitive object stores expose. (In this sandbox it runs on
local[N]; on a real cluster the SparkSession comes from spark-submit.)
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--uris", nargs="+", required=True)
    p.add_argument("--format", default="jsonl", dest="fmt")
    p.add_argument("--regexp", default=".*")
    p.add_argument("--schema-json", help="path to a StructType json file")
    p.add_argument("--table", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--keys", nargs="+", default=["conv_id", "turn_idx"])
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--n-buckets", type=int, default=1024)
    p.add_argument("--files-per-trigger", type=int, default=0)
    p.add_argument("--bytes-per-trigger", type=int, default=0)
    p.add_argument("--cleanup", default="none", choices=["none", "move", "delete"])
    p.add_argument("--cleanup-move-dir")
    p.add_argument("--cleanup-move-prefix", default="",
                   help="filename prefix for moved files (policy.cleanup.move.prefix)")
    p.add_argument("--reader-options-json", default=None,
                   help="inline JSON or a path to a JSON file with per-reader "
                        "options (e.g. cobol copybook_content, csv sep)")
    p.add_argument("--write-salt", default="1",
                   help="spread each bucket's delta write over N tasks for "
                        "hot conv_id batches (int), or 'auto' to let the "
                        "engine size it from the previous commit's per-"
                        "bucket row counts")
    p.add_argument("--target-rows-per-write-task", type=int, default=2_000_000,
                   help="auto write-salt: desired rows per write task in "
                        "the hottest bucket")
    p.add_argument("--max-write-salt", type=int, default=16)
    p.add_argument("--compact-every", type=int, default=20,
                   help="fold MoR deltas every N batches (0 = never)")
    p.add_argument("--compact-min-files", type=int, default=4)
    p.add_argument("--policy", default="simple", choices=["simple", "sleepy", "cron", "watcher"])
    p.add_argument("--sleep", type=float, default=10.0)
    p.add_argument("--cron")
    p.add_argument("--max-execs", type=int, default=-1)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import types as T

    from kafka_connect_fs_spark.streaming.engine import IngestConfig, IngestEngine
    from kafka_connect_fs_spark.streaming.triggers import (
        CronPolicy,
        FileWatcherPolicy,
        SimplePolicy,
        SleepyPolicy,
    )

    spark = SparkSession.builder.appName("kcfs-ingest").getOrCreate()

    schema = None
    if args.schema_json:
        with open(args.schema_json) as f:
            schema = T.StructType.fromJson(json.load(f))

    reader_options: dict = {}
    if args.reader_options_json:
        raw = args.reader_options_json
        if raw.lstrip().startswith("{"):
            reader_options = json.loads(raw)
        else:
            with open(raw) as f:
                reader_options = json.load(f)

    engine = IngestEngine(
        spark,
        IngestConfig(
            uris=args.uris,
            regexp=args.regexp,
            fmt=args.fmt,
            schema=schema,
            table_root=args.table,
            checkpoint_root=args.checkpoint,
            keys=tuple(args.keys),
            ts_col=args.ts_col,
            n_buckets=args.n_buckets,
            files_per_trigger=args.files_per_trigger,
            bytes_per_trigger=args.bytes_per_trigger,
            cleanup=args.cleanup,
            cleanup_move_dir=args.cleanup_move_dir,
            cleanup_move_prefix=args.cleanup_move_prefix,
            reader_options=reader_options,
            write_salt=(
                "auto" if args.write_salt == "auto" else int(args.write_salt)
            ),
            target_rows_per_write_task=args.target_rows_per_write_task,
            max_write_salt=args.max_write_salt,
            compact_every=args.compact_every,
            compact_min_files_per_bucket=args.compact_min_files,
        ),
    )
    policy = {
        "simple": lambda: SimplePolicy(),
        "sleepy": lambda: SleepyPolicy(args.sleep, args.max_execs),
        "watcher": lambda: FileWatcherPolicy(args.sleep, args.max_execs),
        "cron": lambda: CronPolicy(args.cron or "* * * * *", max_execs=args.max_execs),
    }[args.policy]()
    results = engine.run(policy)
    print(
        json.dumps(
            {
                "batches": len(results),
                "events": sum(r.n_events for r in results),
                "rows_written": sum(r.rows_written for r in results),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
