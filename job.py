"""Production job entry — the ``spark-submit --py-files`` launch surface.

    spark-submit --py-files gr_spark.zip job.py \\
        --input <parquet dir | iceberg table> \\
        --output /path/out --manifest /path/manifest \\
        [--n-parts 64] [--char-threshold 500] [--mode batch|stream]

Runs the checkpointed extraction pipeline (plans/checkpoint.py): per-
partition manifest with lineage + metrics, broadcast anti-join resume,
dynamic-partition-overwrite idempotency. ``--mode stream`` instead tails
the input directory with Structured Streaming (streaming/extract_stream).

Input is the north-rule table shape (doc_id string, spans
array<struct<kind,text,media_ref,offset>>); ``--input`` values without a
path separator are treated as catalog table names (`spark.table`), which
is how an Iceberg table is addressed in a real deployment.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(prog="gr-spark-job", description=__doc__)
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--manifest", required=True)
    parser.add_argument("--n-parts", type=int, default=64)
    parser.add_argument("--num-partitions", type=int, default=None)
    parser.add_argument(
        "--concurrency",
        type=int,
        default=4,
        help="checkpoint partitions processed as concurrent Spark jobs",
    )
    parser.add_argument("--char-threshold", type=int, default=500)
    parser.add_argument("--page-type", default="", help="forced page type ('' = classify)")
    parser.add_argument("--mode", choices=("batch", "stream"), default="batch")
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession

    from go_readability_spark.operators.extract import metrics_rollup
    from go_readability_spark.plans.checkpoint import run_checkpointed
    from go_readability_spark.plans.session import ARROW_MAX_RECORDS, GIANT_DOC_BATCH_ROWS
    from go_readability_spark.readability.extract import ReadabilityOptions

    # In production the session comes from spark-submit's conf; these
    # configs fill local-run defaults — notably the Arrow batch size,
    # which must stay small for document-sized rows (plans/session.py).
    builder = (
        SparkSession.builder.appName("gr-spark-extract")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        # bound the vectorized parquet read batch the same way — the
        # 4096-row default over-reserves on giant-document tables
        # (plans/session.py has the full story)
        .config("spark.sql.parquet.columnarReaderBatchSize", str(GIANT_DOC_BATCH_ROWS))
        # local-mode fallback only (spark-submit confs win when set):
        # the default 1g driver heap cannot run a giant-document corpus
        # — the 16 GB/600k checkpoint run OOMs on it (SCALE.md §13)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        # direct `python job.py` launch (no spark-submit): the implicit
        # default is local[*] = every logical CPU, and 32 concurrent
        # giant-document scan tasks overwhelm the column-vector buffers
        # no matter the heap (measured on the 16 GB corpus, SCALE.md
        # §13). Cap to the measured-effective core count, same as the
        # library sessions (plans/session.py). Under spark-submit the
        # launcher's --master wins and this branch never runs.
        cores = min(int(os.environ.get("SPARK_GRAFT_CPUS", "16")), 16)
        builder = builder.master(f"local[{cores}]")
    spark = builder.getOrCreate()
    options = ReadabilityOptions(
        char_threshold=args.char_threshold, forced_page_type=args.page_type
    )

    if args.mode == "stream":
        if "/" not in args.input and not os.path.exists(args.input):
            print(
                "error: --mode stream takes a parquet directory "
                "(file-stream source); catalog table names are batch-only",
                file=sys.stderr,
            )
            return 2
        from go_readability_spark.streaming import run_extract_stream

        query = run_extract_stream(
            spark,
            args.input,
            args.output,
            args.manifest,  # doubles as the streaming checkpoint dir
            options=options,
            available_now=True,
        )
        query.awaitTermination()
        print("stream drained; checkpoint at", args.manifest)
        return 0

    if "/" in args.input or os.path.exists(args.input):
        documents = spark.read.parquet(args.input)
    else:
        documents = spark.table(args.input)  # Iceberg catalog path

    result = run_checkpointed(
        spark,
        documents,
        args.output,
        args.manifest,
        n_parts=args.n_parts,
        options=options,
        num_partitions=args.num_partitions,
        concurrency=args.concurrency,
    )
    rollup = metrics_rollup(result).collect()
    for row in rollup:
        print(dict(row.asDict()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
