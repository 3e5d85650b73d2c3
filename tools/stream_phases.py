"""Streaming drain phase breakdown (optimization-round instrument, r15).

Runs the stateful_session_paths / streaming_window_counts drains once and
prints every micro-batch's StreamingQueryProgress durationMs map plus the
state-operator metrics (commit times, rows, memory) — the evidence base for
attacking the availableNow two-batch floor (VERDICT r14 item 1).

Usage: python tools/stream_phases.py [--sf SF_DIR] [--which sessions|windows]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--which", default="sessions", choices=["sessions", "windows"])
    ap.add_argument("-n", type=int, default=3)
    args = ap.parse_args()

    import tempfile

    from dhs_to_database_spark.session import get_spark
    from dhs_to_database_spark.sources.tables import TABLE_NAMES, load_table
    from dhs_to_database_spark.streaming.events import STREAM_SHUFFLE_PARTITIONS, read_events_stream
    from dhs_to_database_spark.streaming.stateful import session_paths
    from pyspark.sql import functions as F

    spark = get_spark("stream_phases")
    for t in TABLE_NAMES:
        load_table(spark, args.sf, t).count()

    for run in range(args.n):
        stream = read_events_stream(spark, args.sf)
        if args.which == "sessions":
            df = stream  # built below
            out_df = session_paths(stream)
            mode = "append"
        else:
            from dhs_to_database_spark.operators.relational import _dec, _money

            out_df = (
                stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n_events"), _money(F.sum(_dec("value"))).alias("total_value"))
                .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
            )
            mode = "complete"

        dest = tempfile.mkdtemp(prefix="sp_dest_")
        ckpt = tempfile.mkdtemp(prefix="sp_ckpt_")
        wmode = "overwrite" if mode == "complete" else "append"

        def write_batch(bdf, _bid):
            bdf.write.mode(wmode).parquet(dest)

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)
        t0 = time.time()
        q = (
            out_df.writeStream.foreachBatch(write_batch)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        print(f"=== run {run}: wall {wall:.2f}s")
        for p in q.recentProgress:
            d = {
                "batchId": p["batchId"],
                "numInputRows": p["numInputRows"],
                "durationMs": p["durationMs"],
            }
            so = p.get("stateOperators") or []
            if so:
                d["stateOperators"] = [
                    {
                        k: s.get(k)
                        for k in (
                            "numRowsTotal",
                            "numRowsUpdated",
                            "allUpdatesTimeMs",
                            "numRowsRemoved",
                            "allRemovalsTimeMs",
                            "commitTimeMs",
                            "memoryUsedBytes",
                            "numShufflePartitions",
                            "numStateStoreInstances",
                        )
                    }
                    for s in so
                ]
            print(json.dumps(d, indent=1))


if __name__ == "__main__":
    main()
