"""The closed-loop workloads.  One client thread issues each call only after
the previous one returned; every call goes through the engine's public
functions, so each layer is timed from outside the package."""

from __future__ import annotations

import gc
import os
import random
import time
from dataclasses import dataclass, field

import fixture
import measure

DASHBOARD = [
    "ref_kpi_summary",
    "ref_vendor_performance",
    "ref_hourly_statistics",
    "sql_dashboard_kpis",
    "agg_ungrouped_kpis",
    "ref_trip_enrichment",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q18_large_volume_orders",
    "window_topn_per_group",
    "join_asof_events",
]

CURATION = [
    "pipeline_corpus_clean",
    "text_decontaminate",
    "dedup_minhash_keep_one",
    "dedup_minhash_closure",
    "dedup_index_persisted",
    "sim_topk_ivf_kmeans",
    "sim_topk_lsh",
    "sim_topk_pandas_udf",
]

# Module groups whose eager work and final collect are split per op.
MODULES = ["plans", "operators", "pipelines", "dedup", "similarity", "functions"]

# cdc_ingest: compact + vacuum after every fourth epoch.  A run measures whole
# cycles, so every run sees the same epochs with the table in the same states;
# the second epoch of each cycle also re-sends rows of an earlier epoch.
COMPACT_EVERY = 4
RESEND_AT = 2


@dataclass
class Op:
    name: str
    pass_no: int
    cold: bool  # the op's first call in this run
    latency: float
    ok: bool
    module: str | None = None  # MODULES entry of a registered query
    span: object = None
    extra: dict = field(default_factory=dict)


@dataclass
class Run:
    """What one workload run measured; `run.py` turns it into metrics."""

    ops: list[Op] = field(default_factory=list)
    calls: list[tuple[int, str, float]] = field(default_factory=list)  # (pass, kind, s)
    peak_rss_mb: float = 0.0
    retained_mb: float = 0.0
    final_ok: bool = True
    notes: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)  # per-layer extras
    window: tuple[float, float] = (0.0, 0.0)  # wall-clock start/end
    gc_at_start: float = 0.0  # JVM GC seconds when the window opened

    def calls_of(self, kind: str, warm_only: bool = False) -> list[float]:
        return [s for p, k, s in self.calls if k == kind and (p > 0 or not warm_only)]


class Client:
    """Shared state of one workload run."""

    def __init__(self, spark, registry, data_dir, work_dir, seed, seconds, tracer):
        self.spark = spark
        self.registry = registry
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = isinstance(tracer, measure.Tracer)
        self.run = Run()
        self._pids_checked = 0.0
        self._pids: list[int] = []

    def sample_rss(self) -> None:
        with self.tracer.span("bench.sample"):
            now = time.time()
            if now - self._pids_checked > 2.0:  # python workers come and go
                self._pids = measure.descendants(os.getpid())
                self._pids_checked = now
            self.run.peak_rss_mb = max(self.run.peak_rss_mb, measure.rss_mb(self._pids))
            if self.traced:
                info = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
                mb = sum(r.memSize() + r.diskSize() for r in info) / 2**20
                lay = self.run.layer
                lay["catalog.cached_entries"] = max(lay.get("catalog.cached_entries", 0), len(info))
                lay["catalog.cached_mb"] = max(lay.get("catalog.cached_mb", 0.0), mb)

    def retained_mb(self) -> float:
        """Memory the engine still holds: the JVM heap in use after a full
        GC.  Unlike resident size it depends neither on how far the
        collector grew the heap nor on how many Python workers are idle."""
        # Python-side DataFrames pin their JVM twins until Python's own cycle
        # collector frees them; Spark's ContextCleaner frees shuffle and
        # broadcast blocks only after a JVM GC finds them unreachable.  So
        # collect on both sides until the live heap settles.
        gc.collect()
        jvm = self.spark._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        for _ in range(5):
            jvm.java.lang.System.gc()
            time.sleep(0.2)
            used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
            if len(used) > 1 and used[-1] > 0.98 * used[-2]:
                break
        return used[-1]

    def jvm_gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans[i].getCollectionTime() for i in range(len(beans))) / 1000.0

    def open_window(self) -> float:
        """Start the measured window; returns its perf_counter start."""
        self.run.gc_at_start = self.jvm_gc_s()
        self.run.window = (time.time(), 0.0)
        return time.perf_counter()

    def close_window(self) -> None:
        self.run.window = (self.run.window[0], time.time())

    def keep_going(
        self, window_start: float, next_pass: float, passes: int, min_passes: int
    ) -> bool:
        """Run `min_passes` passes; start another while it is expected
        (`next_pass` seconds) to end within the measuring time."""
        elapsed = time.perf_counter() - window_start
        return passes < min_passes or elapsed + next_pass <= self.seconds


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def frame_hash(pdf) -> str:
    """Order-insensitive hash of a pandas frame's values: the sum of its row
    hashes.  Array-valued cells are hashed through their repr."""
    import pandas as pd

    def is_array(v) -> bool:
        return hasattr(v, "__len__") and not isinstance(v, str)

    pdf = pdf[sorted(pdf.columns)].copy()
    for col in pdf.columns:
        if pdf[col].dtype == object and pdf[col].map(is_array).any():
            pdf[col] = pdf[col].map(repr)
    rows = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    return f"{len(pdf)}:{int(rows.sum(dtype='uint64'))}:{','.join(pdf.columns)}"


def run_queries(c: Client, names: list[str]) -> Run:
    """Passes over `names` in a seeded order; each query is called twice in
    a row, so its first (cold) call and a warm call are measured side by
    side and both spread over the whole run."""
    run = c.run
    expected: dict[str, str | None] = {}
    rng = random.Random(c.seed)
    start = c.open_window()
    passes, last = 0, 0.0
    # a pass takes about as long as the last one
    while c.keep_going(start, last, passes, min_passes=1):
        order = names[:]
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            for call in range(2):
                run.ops.append(
                    query_op(c, name, passes, passes == 0 and call == 0, expected)
                )
                c.sample_rss()
        last = time.perf_counter() - t_pass
        passes += 1
    c.close_window()
    return run


def query_op(c: Client, name: str, pass_no: int, cold: bool, expected: dict) -> Op:
    """One call of a registered query, timed and checked: its first result
    against the DuckDB oracle, every later one against the first's hash."""
    from nyc_data_pipeline_spark.testing import compare_frames, run_oracle

    run, tr, spark = c.run, c.tracer, c.spark
    fn = c.registry.QUERIES[name]
    layer = fn.__module__.split(".")[1]
    op = Op(name, pass_no, cold, 0.0, False, module=layer)
    pdf = df = None
    with tr.span(f"op:{name}") as s:
        op.span = s
        if c.traced:
            spark.sparkContext.setJobGroup(str(s.sid), name)
        t0 = time.perf_counter()
        try:
            with tr.span(f"{layer}.build"):
                df = fn(spark, c.data_dir)
            with tr.span(f"{layer}.exec"):
                pdf = df.toPandas()
        except Exception as e:  # a failed op is counted, the loop goes on
            run.notes.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        op.latency = time.perf_counter() - t0
    if c.traced:
        spark.sparkContext.setJobGroup("bench", "bench")
        if df is not None:
            op.extra["catalyst"] = catalyst_phases(df)
    if pdf is not None:
        with tr.span("bench.check"):
            h = frame_hash(pdf)
            if name not in expected:
                errs = compare_frames(pdf, run_oracle(c.registry.ORACLE[name], c.data_dir))
                expected[name] = None if errs else h
                if errs:
                    run.notes.append(f"{name}: oracle mismatch: {errs[:3]}")
            op.ok = expected[name] == h
            if expected[name] is not None and not op.ok:
                run.notes.append(f"{name}: result changed on pass {pass_no}")
    return op


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning seconds from the DataFrame's
    QueryExecution phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# cdc_ingest
# ---------------------------------------------------------------------------


def _dir_files(root: str) -> dict[str, os.stat_result]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.stat(p)
            except OSError:
                pass
    return out


class Storage:
    """Bytes written under the table directory, split into data (parquet)
    and metadata (manifests, ledger, DV sidecars, checksums).  A file counts
    when it is new or rewritten since the last scan."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self.seen = {p: st.st_mtime_ns for p, st in _dir_files(table_dir).items()}
        self.data_bytes = self.meta_bytes = self.files = 0

    def scan(self) -> int:
        """Record what changed; returns the bytes written since the last scan."""
        written = 0
        for p, st in _dir_files(self.table_dir).items():
            if self.seen.get(p) == st.st_mtime_ns:
                continue
            self.seen[p] = st.st_mtime_ns
            self.files += 1
            written += st.st_size
            if p.endswith(".parquet"):
                self.data_bytes += st.st_size
            else:
                self.meta_bytes += st.st_size
        return written

    def live_bytes(self) -> int:
        return sum(st.st_size for st in _dir_files(self.table_dir).values())


def run_cdc(c: Client) -> Run:
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from nyc_data_pipeline_spark.catalog import load_table
    from nyc_data_pipeline_spark.streaming import mor_cdc
    from nyc_data_pipeline_spark.streaming.ingest import file_json_stream
    from nyc_data_pipeline_spark.streaming.sinks import start_foreach_batch

    import pyarrow.parquet as pq

    run, tr, spark = c.run, c.tracer, c.spark
    base_path = os.path.join(c.data_dir, "events.parquet")
    table_dir = os.path.join(c.work_dir, "cdc_table")
    land_dir = os.path.join(c.work_dir, "cdc_in")
    stage_dir = os.path.join(c.work_dir, "cdc_stage")
    os.makedirs(land_dir)
    os.makedirs(stage_dir)
    model = fixture.CdcStream(c.seed, pq.read_table(base_path))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("version", T.IntegerType()),
            T.StructField("op", T.StringType()),
        ]
    )
    sink = mor_cdc.MorCdcSink(spark, table_dir)
    commits = {"attempts": 0, "conflicts": 0}

    def traced_sink(batch_df, epoch_id):
        with tr.span("mor_cdc.sink"):
            sink(batch_df, epoch_id)

    real_commit = mor_cdc.mor_cdc_commit
    if c.traced:  # time and count the sink's commits from outside the package

        def commit(*a, **kw):
            commits["attempts"] += 1
            with tr.span("mor_cdc.commit"):
                try:
                    return real_commit(*a, **kw)
                except mor_cdc.CommitConflictError:
                    commits["conflicts"] += 1
                    raise

        mor_cdc.mor_cdc_commit = commit

    def timed(pass_no, kind, fn):
        with tr.span(f"cdc.{kind}"):
            t0 = time.perf_counter()
            out = fn()
            run.calls.append((pass_no, kind, time.perf_counter() - t0))
        return out

    def head_stats(df):
        r = df.selectExpr("count(*) AS n", f"{fixture.HEAD_CHECKSUM_SQL} AS s").first()
        return r["n"], r["s"]

    layer_samples: dict[str, list[float]] = {}
    lo_keys = random.Random(c.seed)

    def epoch_op(epoch_no: int, query, storage) -> Op:
        """One epoch: its file lands, the stream commits it and a head read
        (row count and checksum of the whole table) sees it; then a lookup
        and the epoch's change feed, all checked against the model; at the
        end of a cycle, compaction and vacuum."""
        epoch = model.next_epoch(resend=epoch_no % COMPACT_EVERY == RESEND_AT)
        name = f"epoch{epoch_no:04d}.json"
        staged = os.path.join(stage_dir, name)
        with tr.span("bench.stage"):
            op_bytes = fixture.write_epoch(epoch.rows, staged)
        pass_no = epoch_no - 1  # the first epoch is the cold one
        op = Op("epoch", pass_no, pass_no == 0, 0.0, False, extra={"bytes": op_bytes})
        with tr.span("op:epoch") as s:
            op.span = s
            t0 = time.perf_counter()
            os.rename(staged, os.path.join(land_dir, name))
            with tr.span("streaming.drain"):
                query.processAllAvailable()
            t1 = time.perf_counter()
            version = sink.latest_version()
            with tr.span("cdc.read"):
                n, chk = head_stats(mor_cdc.mor_cdc_read(spark, table_dir, version))
            t2 = time.perf_counter()
        op.latency = t2 - t0
        op.extra.update(commit=t1 - t0, read=t2 - t1)
        if c.traced and query.lastProgress:
            layer_samples.setdefault("streaming.input_rows", []).append(
                query.lastProgress["numInputRows"]
            )
        lo = lo_keys.randrange(0, model.next_new_key - 1000)
        key_range = (lo, lo + 999)
        ln, lchk = timed(
            pass_no,
            "lookup",
            lambda: head_stats(
                mor_cdc.mor_cdc_read(spark, table_dir, version, key_range=key_range)
            ),
        )
        feed = timed(
            pass_no,
            "feed",
            lambda: mor_cdc.mor_cdc_change_feed(spark, table_dir, version).collect(),
        )
        if c.traced:
            _cdc_layer_counts(layer_samples, table_dir, version, key_range)
        op.ok = True
        with tr.span("bench.check"):
            got = {"insert": 0, "update": 0, "delete": 0}
            for r in feed:
                got[r["change"]] += 1
            checks = {
                "head": ((n, chk), model.live()),
                "lookup": ((ln, lchk), model.live(*key_range)),
                "feed": (got, epoch.expect),
            }
            for what, (have, want) in checks.items():
                if have != want:
                    op.ok = False
                    run.notes.append(f"epoch {epoch_no} {what}: got {have}, want {want}")
        if epoch_no % COMPACT_EVERY == 0:
            storage.scan()
            m = timed(
                pass_no, "compact", lambda: mor_cdc.mor_cdc_compact(spark, table_dir, version)
            )
            latest = int(m["version"])
            rewritten = storage.scan()
            files_before = len(_dir_files(table_dir))
            timed(pass_no, "vacuum", lambda: mor_cdc.mor_cdc_vacuum(table_dir, latest))
            layer_samples.setdefault("mor_cdc.compact_mb_rewritten", []).append(
                rewritten / 2**20
            )
            layer_samples.setdefault("mor_cdc.vacuum_files_reclaimed", []).append(
                files_before - len(_dir_files(table_dir))
            )
        return op

    input_bytes = 0
    storage = None
    query = None
    start = c.open_window()
    try:
        with tr.span("cdc.init"):
            t0 = time.perf_counter()
            base = load_table(spark, c.data_dir, "events").select(
                *fixture.CDC_COLUMNS
            ).withColumn("version", F.lit(0))
            mor_cdc.mor_cdc_init(spark, base, table_dir, "event_id")
            query = start_foreach_batch(
                file_json_stream(spark, land_dir, schema),
                traced_sink if c.traced else sink,
                os.path.join(c.work_dir, "cdc_ckpt"),
            )
            run.calls.append((0, "init", time.perf_counter() - t0))
        storage = Storage(table_dir)
        epoch_no, cycles, cycle_s = 0, 0, 0.0
        # whole compaction cycles, at least one; the next one is expected to
        # take as long as the last
        while c.keep_going(start, cycle_s, cycles, min_passes=1):
            t_cycle = time.perf_counter()
            for _ in range(COMPACT_EVERY):
                epoch_no += 1
                try:
                    op = epoch_op(epoch_no, query, storage)
                except Exception as e:  # a failed epoch is counted, the loop goes on
                    op = Op("epoch", epoch_no - 1, epoch_no == 1, 0.0, False)
                    run.notes.append(f"epoch {epoch_no}: {type(e).__name__}: {str(e)[:300]}")
                input_bytes += op.extra.get("bytes", 0)
                run.ops.append(op)
                with tr.span("bench.sample"):
                    storage.scan()
                c.sample_rss()
            cycle_s = time.perf_counter() - t_cycle
            cycles += 1
        c.close_window()
    finally:
        mor_cdc.mor_cdc_commit = real_commit
        if query is not None:
            query.stop()

    # The final head must equal DuckDB's one-shot merge of the base table and
    # every change file, and the benchmark's own model.
    version = max(mor_cdc.main_manifest_versions(table_dir))
    head = mor_cdc.mor_cdc_read(spark, table_dir, version)
    n, chk = head_stats(head)
    merged = fixture.duckdb_merge(base_path, os.path.join(land_dir, "*.json"))
    want = model.snapshot()
    merged_chk = sum(
        fixture.row_crc(k, u, e, v, ver) for k, (u, e, v, ver) in merged.items()
    )
    if merged != want or (n, chk) != (len(merged), merged_chk):
        run.final_ok = False
        run.notes.append(
            f"final head ({n} rows) != DuckDB merge ({len(merged)} rows) or model"
        )
    live_bytes = storage.live_bytes()
    snap = os.path.join(c.work_dir, "snapshot.parquet")
    import pyarrow as pa

    pq.write_table(
        pa.table(
            {
                "event_id": list(merged),
                "user_id": [r[0] for r in merged.values()],
                "event_type": [r[1] for r in merged.values()],
                "value": [r[2] for r in merged.values()],
                "version": pa.array([r[3] for r in merged.values()], pa.int32()),
            }
        ),
        snap,
        compression="zstd",
    )
    lay = run.layer
    lay["storage.data_mb_written"] = storage.data_bytes / 2**20
    lay["storage.metadata_kb_written"] = storage.meta_bytes / 1024
    lay["storage.files_written"] = storage.files
    lay["storage.live_mb"] = live_bytes / 2**20
    lay["storage.write_amp"] = (storage.data_bytes + storage.meta_bytes) / max(input_bytes, 1)
    lay["storage.space_amp"] = live_bytes / os.path.getsize(snap)
    lay["mor_cdc.commit_conflicts"] = commits["conflicts"] / max(
        commits["attempts"] - commits["conflicts"], 1
    )
    for k, xs in layer_samples.items():
        lay[k] = measure.median(xs)
    return run


def _cdc_layer_counts(samples, table_dir, version, key_range) -> None:
    """Counts read from the manifests: files and delete-vector rows the head
    read covers, files a key-range lookup keeps, buckets the feed reads."""
    import json

    with open(os.path.join(table_dir, f"manifest-v{version}.json")) as f:
        m = json.load(f)
    entries = [e for es in m["files"].values() for e in es]
    lo, hi = key_range
    kept = [e for e in entries if "klo" not in e or not (e["khi"] < lo or e["klo"] > hi)]
    dv_rows, buckets = 0, set()
    for dv in m["dvs"]:
        for root, _, files in os.walk(dv["path"]):
            for name in files:
                if name.endswith(".json"):
                    with open(os.path.join(root, name)) as f:
                        for line in f:
                            dv_rows += 1
                            if int(dv["v"]) == version:
                                buckets.add(json.loads(line)["zb"])
    add = lambda k, v: samples.setdefault(k, []).append(v)  # noqa: E731
    add("mor_cdc.read_files", len(entries) + len(m["dvs"]))
    add("mor_cdc.dv_rows", dv_rows)
    add("mor_cdc.lookup_files_frac", len(kept) / max(len(entries), 1))
    add("mor_cdc.feed_bucket_frac", len(buckets) / int(m.get("n_files", 8)))
