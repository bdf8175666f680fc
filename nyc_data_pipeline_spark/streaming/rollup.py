"""Incremental rollup tables: the reference's summary-table maintenance
(`taxi_analytics_summary` / `hourly_statistics`, reference
database_handler.py:112-164, recomputed by batch jobs over the full
fact table) re-done as a streaming-native incremental aggregate.

Design (the standard lambda-free recipe):

  stream ──foreachBatch──▶ per-epoch PARTIAL aggregates
                           (count + exact-decimal sum per group key),
                           epoch-keyed parquet (idempotent on replay)
  read time:  finalize = groupBy(key) over the partials — at most
              (#epochs × #keys) tiny rows, re-aggregated exactly.

Why this scales where the reference's approach doesn't: each epoch
touches only its micro-batch (no full-table recompute); partials are
decimal-exact so finalize is bit-identical to a batch aggregate over
the same rows (asserted in tests/test_streaming.py); epoch overwrite
keeps at-least-once replays from double counting.  Periodic compaction
(re-partialing closed epochs into one file) keeps the partial count
bounded; AVG finalizes as sum/count, never avg-of-avgs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exprs import dec


class HourlyRollupSink:
    """foreachBatch target maintaining per-hour partial aggregates."""

    def __init__(self, base_path: str, ts_col: str = "ts", value_col: str = "value"):
        self.base_path = base_path
        self.ts_col = ts_col
        self.value_col = value_col

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        # Persist the micro-batch so the emptiness probe and the write
        # share one source scan — foreachBatch re-executes the batch
        # plan for every action otherwise (the double-execution trap
        # the reference hits re-reading Kafka per sink).
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            partial = (
                batch_df.groupBy(
                    F.date_trunc(
                        "hour", F.col(self.ts_col).cast("timestamp")
                    ).alias("hour")
                )
                .agg(
                    F.count("*").alias("n"),
                    F.count(self.value_col).alias("nv"),
                    F.sum(dec(self.value_col)).alias("sum_dec"),
                )
            )
            partial.write.mode("overwrite").parquet(
                os.path.join(self.base_path, f"epoch={epoch_id}")
            )
        finally:
            batch_df.unpersist()


def _recover_compaction(base_path: str) -> None:
    """Finish (or discard) an interrupted compaction.

    Protocol state on disk decides:
    - manifest present → the merged output in `_compacting` is the
      committed truth; delete any listed source dirs that survived the
      crash, promote `_compacting` to `epoch=-1`, drop the manifest.
    - `_compacting` present without a manifest → the merge never
      committed; sources are intact, so the tmp output is garbage.
    """
    import json
    import shutil

    manifest = os.path.join(base_path, "_compact_manifest.json")
    tmp_dir = os.path.join(base_path, "_compacting")
    compact_dir = os.path.join(base_path, "epoch=-1")
    if os.path.exists(manifest):
        with open(manifest) as f:
            sources = json.load(f)["sources"]
        for p in sources:
            if os.path.exists(p):
                shutil.rmtree(p)
        if os.path.exists(tmp_dir):
            if os.path.exists(compact_dir):
                shutil.rmtree(compact_dir)
            os.rename(tmp_dir, compact_dir)
        os.remove(manifest)
    elif os.path.exists(tmp_dir):
        shutil.rmtree(tmp_dir)


def compact_rollup(spark: SparkSession, base_path: str) -> int:
    """Merge all closed epoch partials into one `epoch=-1` compact
    partial (counts and decimal sums re-aggregate exactly), then remove
    the per-epoch directories.  Keeps the partial count O(1) between
    compactions instead of O(#epochs) over an unbounded stream.

    Crash-safe: the merged output is written to a Spark-ignored tmp dir,
    then a manifest naming the source dirs is atomically installed —
    that rename is the commit point.  A crash before it leaves sources
    untouched (tmp is garbage, reclaimed next run); a crash after it is
    completed by ``_recover_compaction`` on the next call.  In
    production, compact only epochs at or below the checkpoint's
    committed offset — an uncommitted epoch merged here and then
    replayed would double count.  Returns #epoch dirs compacted."""
    import shutil

    from ..sources.scans import atomic_json_dump

    _recover_compaction(base_path)
    epochs = [
        d
        for d in os.listdir(base_path)
        if d.startswith("epoch=") and d != "epoch=-1"
    ]
    if not epochs:
        return 0
    paths = [os.path.join(base_path, d) for d in epochs]
    merged = (
        spark.read.parquet(*paths)
        .groupBy("hour")
        .agg(
            F.sum("n").alias("n"),
            F.sum("nv").alias("nv"),
            F.sum("sum_dec").alias("sum_dec"),
        )
    )
    # Fold in a previous compact partial if present.
    compact_dir = os.path.join(base_path, "epoch=-1")
    tmp_dir = os.path.join(base_path, "_compacting")
    sources = list(paths)
    if os.path.exists(compact_dir):
        sources.append(compact_dir)
        merged = (
            merged.unionByName(spark.read.parquet(compact_dir))
            .groupBy("hour")
            .agg(
                F.sum("n").alias("n"),
                F.sum("nv").alias("nv"),
                F.sum("sum_dec").alias("sum_dec"),
            )
        )
    merged.write.mode("overwrite").parquet(tmp_dir)
    # Commit point: manifest install is a single atomic rename.
    manifest = os.path.join(base_path, "_compact_manifest.json")
    atomic_json_dump({"sources": sources}, manifest)
    for p in paths:
        shutil.rmtree(p)
    if os.path.exists(compact_dir):
        shutil.rmtree(compact_dir)
    os.rename(tmp_dir, compact_dir)
    os.remove(manifest)
    return len(epochs)


def finalize_hourly_rollup(spark: SparkSession, base_path: str) -> DataFrame:
    """Merge all epoch partials into the live rollup table: exact
    re-aggregation (decimal sums add associatively; counts add)."""
    partials = spark.read.parquet(base_path)
    return partials.groupBy("hour").agg(
        F.sum("n").alias("trip_count"),
        F.sum("sum_dec").cast("double").alias("total_value"),
        (F.sum("sum_dec").cast("double") / F.sum("nv")).alias("avg_value"),
    )
