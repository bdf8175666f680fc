"""Storage-layer probe at sf1 (VERDICT r7 ask #2): measure the r7
metadata layer's RATIOS — zone-map pruning fraction, bloom
false-positive rate at 16 bits/key, COW touched-file fraction, and
change-feed cost — as the data grows 10x (key-shifted sf0.1 clones =
sf1) and as the layout grows to 10x files (8 -> 80).  The claims under
test: pruning fractions are properties of the LAYOUT, not the data
volume; bloom FPR is scale-invariant because the width rule is
derived from COUNT(*); COW/feed cost tracks the touched-file
fraction.

One (k, n_files) config per process — fresh-session isolation for
artifact writers (SCALE.md §15 lesson).  Also times the ANALYZE-shaped
one-scan multi-distinct statistics aggregate at k* to complete the
five-op storage/stats story.

Usage: python scripts/storage_probe.py [k] [n_files]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nyc_data_pipeline_spark.catalog import load_table
from nyc_data_pipeline_spark.session import get_spark
from nyc_data_pipeline_spark.sources.scans import scratch_dir
from nyc_data_pipeline_spark.sources.zonemap import (
    _US_PER_DAY,
    ZM_HI_DAY,
    ZM_LO_DAY,
    bloom_probe_files,
    change_feed_from,
    cow_merge,
    read_pruned,
    write_bloom_manifest,
    write_zone_mapped,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_ABSENT_PROBES = 200


def main(k: int, n_files: int) -> dict:
    spark = get_spark()
    out: dict = {"k": k, "n_files": n_files}

    o = load_table(spark, SF_DIR, "orders")
    ok = o
    for i in range(1, k):
        ok = ok.unionByName(
            o.withColumn("o_orderkey", F.col("o_orderkey") + i * 10**9)
        )
    base = ok.select(
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(
            f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_US_PER_DAY}"
        ).alias("day"),
    )

    # --- zone map: pruning fraction + pruned-vs-full read cost
    zdir = scratch_dir(f"sp_zm_k{k}_f{n_files}", SF_DIR)
    t0 = time.perf_counter()
    write_zone_mapped(base, zdir, "day", ["cents"], n_files)
    out["zm_t_write"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    zdf, n_scan, n_total = read_pruned(spark, zdir, "day", ZM_LO_DAY, ZM_HI_DAY)
    (
        zdf.filter(F.col("day").between(ZM_LO_DAY, ZM_HI_DAY))
        .groupBy("zb").agg(F.sum("cents"))
        .write.format("noop").mode("overwrite").save()
    )
    out["zm_t_pruned_agg"] = round(time.perf_counter() - t0, 2)
    out["zm_files_scanned"], out["zm_files_total"] = n_scan, n_total
    out["zm_pruned_frac"] = round(n_scan / n_total, 4)
    t0 = time.perf_counter()
    (
        spark.read.option("basePath", os.path.join(zdir, "data"))
        .parquet(os.path.join(zdir, "data"))
        .filter(F.col("day").between(ZM_LO_DAY, ZM_HI_DAY))
        .groupBy("zb").agg(F.sum("cents"))
        .write.format("noop").mode("overwrite").save()
    )
    out["zm_t_full_agg"] = round(time.perf_counter() - t0, 2)

    # --- bloom: empirical FPR on absent keys (width rule adapts to k)
    bdir = scratch_dir(f"sp_bloom_k{k}_f{n_files}", SF_DIR)
    t0 = time.perf_counter()
    manifest = write_bloom_manifest(
        base.select("o_orderkey", "day"), bdir, "o_orderkey", n_files
    )
    out["bloom_t_build"] = round(time.perf_counter() - t0, 2)
    out["bloom_bits_per_file"] = manifest["bits"]
    t0 = time.perf_counter()
    admitted = sum(
        len(bloom_probe_files(manifest, 10**13 + 7 * i))
        for i in range(N_ABSENT_PROBES)
    )
    out["bloom_t_probe"] = round(time.perf_counter() - t0, 2)
    out["bloom_fpr"] = round(
        admitted / (N_ABSENT_PROBES * len(manifest["files"])), 4
    )

    # --- copy-on-write merge: touched-file fraction + cost
    mdir = scratch_dir(f"sp_cow_k{k}_f{n_files}", SF_DIR)
    t0 = time.perf_counter()
    rows = cow_merge(spark, base.withColumnRenamed("o_orderkey", "k"),
                     mdir, n_files).collect()
    out["cow_t_merge"] = round(time.perf_counter() - t0, 2)
    v2 = next(r for r in rows if r["version"] == 2)
    out["cow_files_rewritten"] = v2["files_rewritten"]
    out["cow_files_total"] = v2["files_total"]
    out["cow_touched_frac"] = round(
        v2["files_rewritten"] / v2["files_total"], 4
    )

    # --- change feed off the committed pair: cost tracks touched files
    t0 = time.perf_counter()
    n_changes = change_feed_from(spark, mdir).count()
    out["feed_t"] = round(time.perf_counter() - t0, 2)
    out["feed_changes"] = n_changes

    # --- append commit: O(batch) write + manifest, no rewrites
    from nyc_data_pipeline_spark.sources.zonemap import _zm_append

    batch = base.select(
        (F.col("o_orderkey") + 3 * 10**12).alias("k"),
        (F.col("cents") + 2).alias("cents"),
        "day",
    ).filter(F.col("k") % 499 == 0)
    t0 = time.perf_counter()
    m3 = _zm_append(spark, batch, mdir, 3, n_files)
    out["append_t"] = round(time.perf_counter() - t0, 2)
    out["append_buckets"] = len(m3["appended_buckets"])

    # --- copy-on-write DELETE (r8): retention slice, cost ~ touched files
    from nyc_data_pipeline_spark.sources.zonemap import cow_delete

    ddir = scratch_dir(f"sp_del_k{k}_f{n_files}", SF_DIR)
    t0 = time.perf_counter()
    drows = cow_delete(spark, base.withColumnRenamed("o_orderkey", "k"),
                       ddir, n_files).collect()
    out["del_t"] = round(time.perf_counter() - t0, 2)
    dv2 = next(r for r in drows if r["version"] == 2)
    out["del_files_rewritten"] = dv2["files_rewritten"]
    out["del_touched_frac"] = round(
        dv2["files_rewritten"] / dv2["files_total"], 4
    )

    # --- merge-on-read DELETE (r8): DV sidecar commit vs COW rewrite
    from nyc_data_pipeline_spark.sources.zonemap import (
        _mor_delete_commit,
        _mor_read,
        _zm_versioned_write,
        range_buckets,
    )

    mor_dir = scratch_dir(f"sp_mor_k{k}_f{n_files}", SF_DIR)
    kcd = base.withColumnRenamed("o_orderkey", "k")
    lo_hi = kcd.agg(F.min("day"), F.max("day")).collect()[0]
    b1 = range_buckets(kcd, "day", n_files).withColumnRenamed(
        "bucket", "zb"
    ).drop("lo", "hi")
    m1 = _zm_versioned_write(
        b1, mor_dir, 1, [str(z) for z in range(n_files)], None,
        (lo_hi[0], lo_hi[1]),
    )
    t0 = time.perf_counter()
    _mor_delete_commit(spark, mor_dir, m1)
    out["mor_t_commit"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    _mor_read(spark, mor_dir, 2).agg(F.sum("cents")).write.format(
        "noop"
    ).mode("overwrite").save()
    out["mor_t_read"] = round(time.perf_counter() - t0, 2)

    # --- VACUUM (r8): reachability reclaim on the merged+appended table
    from nyc_data_pipeline_spark.sources.zonemap import manifest_vacuum

    t0 = time.perf_counter()
    vstats = manifest_vacuum(mdir, latest=3)
    out["vacuum_t"] = round(time.perf_counter() - t0, 2)
    out["vacuum_removed"] = vstats["dirs_removed"]
    out["vacuum_before"] = vstats["dirs_before"]

    # --- partition-spec evolution (r8): per-epoch pruning, straddle read
    from nyc_data_pipeline_spark.sources.zonemap import (
        EVO_HI_DAY,
        EVO_LO_DAY,
        EVO_SPLIT_DAY,
    )

    edir = scratch_dir(f"sp_evo_k{k}_f{n_files}", SF_DIR)
    e1 = base.filter(F.col("day") < EVO_SPLIT_DAY)
    e2 = base.filter(F.col("day") >= EVO_SPLIT_DAY)
    t0 = time.perf_counter()
    write_zone_mapped(e1, os.path.join(edir, "e1"), "day", ["cents"],
                      max(n_files // 2, 2))
    write_zone_mapped(e2, os.path.join(edir, "e2"), "day", ["cents"],
                      n_files)
    out["evo_t_write"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    scanned = total = 0
    for sub in ("e1", "e2"):
        df, n_s, n_t = read_pruned(
            spark, os.path.join(edir, sub), "day", EVO_LO_DAY, EVO_HI_DAY
        )
        scanned, total = scanned + n_s, total + n_t
        if df is not None:
            (
                df.filter(F.col("day").between(EVO_LO_DAY, EVO_HI_DAY))
                .groupBy("zb").agg(F.sum("cents"))
                .write.format("noop").mode("overwrite").save()
            )
    out["evo_t_straddle_agg"] = round(time.perf_counter() - t0, 2)
    out["evo_scanned_frac"] = round(scanned / total, 4)

    # --- ANALYZE-shaped statistics: one scan, multi-distinct aggregate
    t0 = time.perf_counter()
    (
        ok.agg(
            F.count("*"),
            F.count_distinct("o_orderkey"),
            F.count_distinct("o_custkey"),
            F.count_distinct("o_orderstatus"),
            F.min("o_totalprice"), F.max("o_totalprice"),
            F.min("o_orderdate"), F.max("o_orderdate"),
        ).write.format("noop").mode("overwrite").save()
    )
    out["analyze_t"] = round(time.perf_counter() - t0, 2)

    # --- streaming-CDC merge-on-read lifecycle (r9): three DV+append
    # epochs on a k*-row, n_files-bucket table, then compaction.  The
    # claims: commit cost is O(batch) (never a data-file read), read
    # cost tracks table+churn, compaction cost is one linear pass.
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_commit,
        mor_cdc_compact,
        mor_cdc_init,
        mor_cdc_read,
    )

    cdc_dir = scratch_dir(f"sp_cdc_k{k}_f{n_files}", SF_DIR)
    base_cdc = kcd.withColumn("version", F.lit(0))
    mor_cdc_init(spark, base_cdc, cdc_dir, "k", n_files=n_files)
    waves = [
        kcd.filter(F.col("k") % 3 == 0)
        .withColumn("cents", F.col("cents") + 1)
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("u")),
        kcd.filter(F.col("k") % 4 == 0)
        .withColumn("version", F.lit(2))
        .withColumn("op", F.lit("d")),
        kcd.filter(F.col("k") % 6 == 0)
        .withColumn("cents", F.col("cents") + 3)
        .withColumn("version", F.lit(3))
        .withColumn("op", F.lit("u")),
    ]
    t0 = time.perf_counter()
    for i, w in enumerate(waves):
        mor_cdc_commit(spark, w, cdc_dir, 2 + i, n_files=n_files)
    out["cdc_t_commits"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    mor_cdc_read(spark, cdc_dir, 4).agg(F.sum("cents")).write.format(
        "noop"
    ).mode("overwrite").save()
    out["cdc_t_read"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    mor_cdc_compact(spark, cdc_dir, 4, n_files=n_files)
    out["cdc_t_compact"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    mor_cdc_read(spark, cdc_dir, 5).agg(F.sum("cents")).write.format(
        "noop"
    ).mode("overwrite").save()
    out["cdc_t_read_compacted"] = round(time.perf_counter() - t0, 2)

    # --- streaming-CDC VACUUM (r10): reachability reclaim to the
    # compacted version — pure metadata + file ops, O(#files)
    from nyc_data_pipeline_spark.streaming.mor_cdc import mor_cdc_vacuum

    t0 = time.perf_counter()
    vstats_cdc = mor_cdc_vacuum(cdc_dir, latest=5)
    out["cdc_vacuum_t"] = round(time.perf_counter() - t0, 2)
    out["cdc_vacuum_removed"] = vstats_cdc["dirs_removed"]
    out["cdc_vacuum_dv_removed"] = vstats_cdc["dv_dirs_removed"]
    t0 = time.perf_counter()
    mor_cdc_read(spark, cdc_dir, 5).agg(F.sum("cents")).write.format(
        "noop"
    ).mode("overwrite").save()
    out["cdc_t_read_post_vacuum"] = round(time.perf_counter() - t0, 2)

    # --- change-feed bucket pruning (r11, VERDICT r10 ask #1): feed
    # cost must track the CHURNED buckets, not the table size.  Same
    # base, fresh table; commit a bucket-LOCAL wave (keys in the
    # lowest slice of the range -> one bucket) and a GLOBAL wave
    # (k % 3 -> every occupied bucket); the local feed's pre-image leg
    # must scan only its churned bucket's v1 files, the global feed
    # pays the occupied-bucket count — the zb_filter manifest pruning
    # measured at n_files files.
    from nyc_data_pipeline_spark.sources.vlog import staged_version
    from nyc_data_pipeline_spark.streaming.mor_cdc import (
        mor_cdc_change_feed,
        mor_cdc_init as _cdc_init2,
    )

    cdcf_dir = scratch_dir(f"sp_cdcf_k{k}_f{n_files}", SF_DIR)
    _cdc_init2(spark, base_cdc, cdcf_dir, "k", n_files=n_files)
    lo_k, hi_k = kcd.agg(F.min("k"), F.max("k")).collect()[0]
    width = (hi_k - lo_k + 1) // n_files
    local_wave = (
        kcd.filter(F.col("k") < lo_k + max(width // 2, 1))
        .withColumn("cents", F.col("cents") + 1)
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("u"))
    )
    mor_cdc_commit(spark, local_wave, cdcf_dir, 2, n_files=n_files)
    global_wave = (
        kcd.filter(F.col("k") % 3 == 0)
        .withColumn("cents", F.col("cents") + 2)
        .withColumn("version", F.lit(2))
        .withColumn("op", F.lit("u"))
    )
    mor_cdc_commit(spark, global_wave, cdcf_dir, 3, n_files=n_files)
    t0 = time.perf_counter()
    feed_local = mor_cdc_change_feed(spark, cdcf_dir, 2)
    feed_local.agg(
        F.count("*"), F.sum("post_cents")
    ).write.format("noop").mode("overwrite").save()
    out["feed_t_local"] = round(time.perf_counter() - t0, 2)
    v1_files = [
        p for p in feed_local.inputFiles()
        if 1 in map(staged_version, p.split("/"))
    ]
    out["feed_local_v1_buckets"] = len(
        {s for p in v1_files for s in p.split("/") if s.startswith("zb=")}
    )
    t0 = time.perf_counter()
    feed_global = mor_cdc_change_feed(spark, cdcf_dir, 3)
    feed_global.agg(
        F.count("*"), F.sum("post_cents")
    ).write.format("noop").mode("overwrite").save()
    out["feed_t_global"] = round(time.perf_counter() - t0, 2)
    pre_files = [
        p for p in feed_global.inputFiles()
        if {1, 2} & set(map(staged_version, p.split("/")))
    ]
    out["feed_global_pre_buckets"] = len(
        {s for p in pre_files for s in p.split("/") if s.startswith("zb=")}
    )
    return out


if __name__ == "__main__":
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    print(json.dumps(main(k, n_files)))
