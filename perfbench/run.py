"""Benchmark entry point.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Run from the repository root.  One run generates its inputs from the seed under
`.perfbench_work/` in the current directory, sets the engine up three times
(session, registry, fixture warm-up), drives one workload with a single client
thread through its cold and warm passes (more while they fit in `--seconds`),
checks every result, and prints one JSON line.
`--trace 0` reports the end-to-end metrics; `--trace 1` records spans and the
Spark event log and reports the per-layer metrics.  `--workload all` runs every
workload untraced and traced and prints a table of everything.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402

WORKLOADS = ("queries", "cdc_ingest")
SETUP_ROUNDS = 3
PACKAGE = "nyc_data_pipeline_spark"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="also write the full report as JSON here")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"error: run from the repository root ({PACKAGE}/ not found)", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        report = run_one(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    print_report(report)
    if args.report:
        with open(args.report, "w") as f:
            json.dump(report, f)
    names = end_to_end_names() if not args.trace else per_layer_names()
    metrics = {
        k: {"value": report["metrics"][k]["value"], "unit": report["metrics"][k]["unit"]}
        for k in names
    }
    print(
        json.dumps(
            {
                "correct": report["correct"],
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def _spec() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end_names() -> list[str]:
    return [m["name"] for m in _spec()["end_to_end"]]


def per_layer_names() -> list[str]:
    return [m["name"] for m in _spec()["per_layer"]]


# ---------------------------------------------------------------------------
# One run
# ---------------------------------------------------------------------------


def configure_env(root: str, work: str) -> dict[str, str]:
    """Keep every file the engine writes inside `work`; make the package
    importable by the Python workers Spark starts."""
    for d in ("tmp", "local", "scratch", "warehouse", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["NYC_ENGINE_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the spark-submit launcher's too: temp files (native
    # libraries unpacked by the codecs) in `work`, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    if root not in sys.path:
        sys.path.insert(0, root)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def setup_round(conf: dict[str, str], data_dir: str, cpus: int):
    """Session + registry + fixture warm-up, each timed.  The registry is
    imported afresh each round, so import-time work shows."""
    t0 = time.perf_counter()
    session = importlib.import_module(f"{PACKAGE}.session")
    spark = session.get_spark(cpus=cpus, extra_conf=conf)
    t1 = time.perf_counter()
    for mod in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[mod]
    registry = importlib.import_module(f"{PACKAGE}.registry")
    registry.load_all()
    t2 = time.perf_counter()
    catalog = importlib.import_module(f"{PACKAGE}.catalog")
    catalog.register_views(spark, data_dir)
    t3 = time.perf_counter()
    return spark, registry, {"get_spark": t1 - t0, "load_all": t2 - t1, "warmup": t3 - t2}


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    started = measure.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [p for p in started if measure.running(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            return
        time.sleep(0.1)


def run_one(args, root: str, work: str) -> dict:
    import fixture
    import workloads

    cpus = len(os.sched_getaffinity(0))
    conf = configure_env(root, work)
    traced = bool(args.trace)
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    data_dir = os.path.join(work, "data")
    sizes = fixture.SIZES
    if args.workload == "cdc_ingest":
        sizes = {**sizes, "events": fixture.CDC_BASE_ROWS}
    input_bytes = fixture.write_tables(args.seed, data_dir, sizes)

    rounds = []
    spark = None
    try:
        for i in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()  # a fresh SparkContext in the same JVM
            spark, registry, timing = setup_round(conf, data_dir, cpus)
            rounds.append(timing)
        t_setup = time.time()
        steal0 = measure.cpu_steal()
        tracer = measure.Tracer() if traced else measure.NoTracer()
        client = workloads.Client(
            spark, registry, data_dir, work, args.seed, args.seconds, tracer
        )
        if args.workload == "cdc_ingest":
            run = workloads.run_cdc(client)
        else:
            run = workloads.run_queries(client, workloads.DASHBOARD + workloads.CURATION)
        gc_end = client.jvm_gc_s()
        steal1 = measure.cpu_steal()
        if traced:  # forces full GCs; a per-layer figure only
            run.retained_mb = client.retained_mb()
    finally:
        if spark is not None:
            stop_spark(spark)
    events = measure.read_event_log(os.path.join(work, "events")) if traced else None
    report = build_report(args, cpus, input_bytes, rounds, run, tracer, events, gc_end)
    report["timeline_s"] = {
        "setup_done": t_setup - T_START,
        "window": run.window[1] - run.window[0],
        "teardown_done": time.time() - T_START,
    }
    # CPU time the hypervisor gave to other guests while the workload ran
    report["host_steal_frac"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    return report


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def op_metrics(ops, calls) -> dict[str, tuple[float, str]]:
    """The op-level end-to-end metrics of `ops` (and the other client
    `calls` of the same passes): the cold pass, and the warm passes."""
    warm = [o.latency for o in ops if not o.cold]
    first = sum(o.latency for o in ops if o.cold)
    first += sum(s for p, _, s in calls if p == 0)
    busy = sum(warm) + sum(s for p, _, s in calls if p > 0)
    tail_v, tail_q, tail_n = measure.tail(warm)
    return {
        "first_pass_s": (first, "s"),
        "op_p50_s": (measure.median(warm), "s"),
        "op_tail_s": (tail_v, "s"),
        "ops_per_s": (len(warm) / max(busy, 1e-9), "1/s"),
        "failed_frac": (sum(not o.ok for o in ops) / max(len(ops), 1), "ratio"),
        "tail_percentile": (tail_q, "%"),
        "tail_samples_beyond": (tail_n, "count"),
    }


def build_report(args, cpus, input_bytes, rounds, run, tracer, events, gc_end) -> dict:
    import workloads

    med = measure.median
    metrics: dict[str, dict] = {}

    def put(name, value, unit):
        metrics[name] = {"value": float(value), "unit": unit}

    warm_ops = [o for o in run.ops if not o.cold]
    failed = sum(not o.ok for o in run.ops)
    ops = op_metrics(run.ops, run.calls)
    put("setup_s", med([sum(r.values()) for r in rounds]), "s")
    for k in ("first_pass_s", "op_p50_s", "op_tail_s", "ops_per_s"):
        put(k, *ops[k])
    if args.trace:
        put("retained_mb", run.retained_mb, "MB")
    put("peak_rss_mb", run.peak_rss_mb, "MB")
    put("failed_frac", *ops["failed_frac"])
    tail_q, tail_n = ops["tail_percentile"][0], ops["tail_samples_beyond"][0]
    if args.workload == "cdc_ingest":
        put("read_p50_s", med([o.extra["read"] for o in warm_ops if "read" in o.extra]), "s")
        for kind in ("lookup", "feed"):
            put(f"{kind}_p50_s", med(run.calls_of(kind, warm_only=True)), "s")
        put("compact_s", med(run.calls_of("compact")), "s")
        put("write_amp", run.layer["storage.write_amp"], "ratio")
        put("space_amp", run.layer["storage.space_amp"], "ratio")
    subsets = {}
    if args.workload == "queries":
        for name, names in (("dashboard", workloads.DASHBOARD), ("curation", workloads.CURATION)):
            part = op_metrics([o for o in run.ops if o.name in names], [])
            subsets[name] = {k: {"value": float(v), "unit": u} for k, (v, u) in part.items()}

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cpus,
        "input_bytes": input_bytes,
        "setup_rounds": rounds,
        "passes": 1 + max((o.pass_no for o in run.ops), default=-1),
        "warm_ops": len(warm_ops),
        "tail_percentile": tail_q,
        "tail_samples_beyond": tail_n,
        "correct": failed == 0 and run.final_ok,
        "attempted": len(run.ops),
        "failed": failed,
        "notes": run.notes[:20],
        "subsets": subsets,
        "op_latency_s": {
            o.name: [round(x.latency, 3) for x in run.ops if x.name == o.name] for o in run.ops
        },
        "metrics": metrics,
    }
    if args.trace:
        layers, self_by_layer = layer_metrics(run, tracer, events, rounds, cpus, gc_end)
        layers["trace.ops_per_s"] = ops["ops_per_s"][0]
        for name, unit in per_layer_units().items():
            put(name, layers.get(name, 0.0), unit)
        report["self_time_s"] = self_by_layer
        report["span_coverage"] = layers["trace.coverage"]
    return report


def per_layer_units() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in _spec()["per_layer"]}


def layer_metrics(run, tracer, events, rounds, cpus, gc_end):
    """Per-layer numbers of a traced run: per warm op means for query
    layers and executor figures, medians of warm calls for mor_cdc."""
    import workloads

    med = measure.median
    spans = tracer.spans
    by_id = {s.sid: s for s in spans}
    win0, win1 = run.window
    warm_ops = [o for o in run.ops if not o.cold]
    n_warm = max(len(warm_ops), 1)
    n_ops = max(len(run.ops), 1)
    out: dict[str, float] = dict(run.layer)
    out["process.peak_rss_mb"] = run.peak_rss_mb
    out["jvm.retained_mb"] = run.retained_mb

    out["session.get_spark_s"] = med([r["get_spark"] for r in rounds])
    out["session.cold_start_s"] = rounds[0]["get_spark"]
    out["registry.load_all_s"] = med([r["load_all"] for r in rounds])
    out["catalog.warmup_s"] = med([r["warmup"] for r in rounds])

    # self time per span name over the whole window, and span coverage
    selfs = measure.self_times(spans)
    self_by_layer: dict[str, float] = {}
    for s in spans:
        layer = "op" if s.name.startswith("op:") else s.name
        self_by_layer[layer] = self_by_layer.get(layer, 0.0) + selfs[s.sid]
    roots = [(max(s.start, win0), min(s.end, win1)) for s in spans if s.parent is None]
    out["trace.coverage"] = measure.covered([r for r in roots if r[1] > r[0]]) / max(
        win1 - win0, 1e-9
    )
    out["trace.spans"] = len(spans)

    # jobs -> spans: an op's own jobs carry its span id as their job group;
    # jobs of other threads (the streaming query's) go to the innermost span
    # open when they were submitted
    job_span = {}
    for jid, j in events["jobs"].items():
        group = j["group"]
        if group is not None and group.isdigit() and int(group) in by_id:
            own = [s for s in spans if s.op == by_id[int(group)].op]
            job_span[jid] = measure.innermost(own, j["submit"]) or by_id[int(group)]
        else:
            job_span[jid] = measure.innermost(spans, j["submit"])
    jobs_by_span: dict[int, int] = {}
    for s in job_span.values():
        if s is not None:
            jobs_by_span[s.sid] = jobs_by_span.get(s.sid, 0) + 1

    # query layers: build / exec time and jobs per op of each module
    per_mod: dict[str, list[dict]] = {}
    for o in warm_ops:
        if o.module not in workloads.MODULES:
            continue
        kids = [s for s in spans if s.op == o.span.op]
        per_mod.setdefault(o.module, []).append(
            {
                "build_s": sum(s.dur for s in kids if s.name.endswith(".build")),
                "exec_s": sum(s.dur for s in kids if s.name.endswith(".exec")),
                "jobs": sum(jobs_by_span.get(s.sid, 0) for s in kids),
            }
        )
        for k, v in o.extra.get("catalyst", {}).items():
            out[f"catalyst.{k}_s"] = out.get(f"catalyst.{k}_s", 0.0) + v / n_warm
    for mod, rows in per_mod.items():
        for part in ("build_s", "exec_s", "jobs"):
            out[f"{mod}.{part}"] = sum(r[part] for r in rows) / len(rows)

    # executor figures over the measured window, per op
    def submitted(sid):
        return events["jobs"].get(events["stage_job"].get(sid), {}).get("submit", 0.0)

    stages = [st for sid, st in events["stages"].items() if win0 <= submitted(sid) <= win1]
    scans = [st["tasks"] for st in stages if st["input_bytes"] > 0]
    mb = 2**20
    out["exec.tasks"] = sum(st["tasks"] for st in stages) / n_ops
    out["exec.scan_tasks"] = sum(scans) / len(scans) if scans else 0.0
    out["exec.busy_frac"] = sum(st["run_s"] for st in stages) / max((win1 - win0) * cpus, 1e-9)
    out["exec.shuffle_write_mb"] = sum(st["shuffle_write"] for st in stages) / mb / n_ops
    out["exec.shuffle_read_mb"] = sum(st["shuffle_read"] for st in stages) / mb / n_ops
    out["exec.spill_mb"] = sum(st["spill"] for st in stages) / mb / n_ops
    out["exec.gc_s"] = (gc_end - run.gc_at_start) / n_ops

    # cdc_ingest: commits, feeds and the micro-batch share of an epoch
    warm0 = min((o.span.start for o in warm_ops if o.span is not None), default=win1)
    warm_spans = [s for s in spans if s.start >= warm0]
    reads = [o.extra["read"] for o in warm_ops if "read" in o.extra]
    if reads:
        out["mor_cdc.read_s"] = med(reads)
    for name, key in (("mor_cdc.commit", "commit"), ("cdc.feed", "feed")):
        xs = [s for s in warm_spans if s.name == name]
        if xs:
            out[f"mor_cdc.{key}_jobs"] = sum(jobs_by_span.get(s.sid, 0) for s in xs) / len(xs)
            if key == "commit":
                out["mor_cdc.commit_s"] = med([s.dur for s in xs])
    for kind in ("lookup", "feed", "vacuum"):
        xs = run.calls_of(kind, warm_only=True)
        if xs:
            out[f"mor_cdc.{kind}_s"] = med(xs)
    if run.calls_of("compact"):
        out["mor_cdc.compact_s"] = med(run.calls_of("compact"))
    sink_s: dict[int, float] = {}
    for s in spans:
        if s.name == "mor_cdc.sink" and s.op is not None:
            sink_s[s.op] = sink_s.get(s.op, 0.0) + s.dur
    if sink_s:
        out["streaming.microbatch_s"] = med(
            [o.extra["commit"] - sink_s.get(o.span.op, 0.0) for o in warm_ops]
        )
    return out, self_by_layer


# ---------------------------------------------------------------------------
# Output
# ---------------------------------------------------------------------------


def print_report(r: dict) -> None:
    err = sys.stderr
    print(
        f"[{r['workload']}] seed={r['seed']} trace={r['trace']} cores={r['cores']} "
        f"passes={r['passes']} warm_ops={r['warm_ops']} attempted={r['attempted']} "
        f"failed={r['failed']} correct={r['correct']}",
        file=err,
    )
    print(
        f"  op_tail_s is p{r['tail_percentile']:.1f} with "
        f"{r['tail_samples_beyond']} samples beyond it",
        file=err,
    )
    for k, m in r["metrics"].items():
        print(f"  {k:32s} {measure.fmt(m['value']):>12s} {m['unit']}", file=err)
    for sub, ms in r["subsets"].items():
        for k, m in ms.items():
            print(f"  {sub + ':' + k:32s} {measure.fmt(m['value']):>12s} {m['unit']}", file=err)
    if "self_time_s" in r:
        print(f"  span coverage {r['span_coverage']:.3f} of the timed window", file=err)
        for k, v in sorted(r["self_time_s"].items(), key=lambda kv: -kv[1]):
            print(f"  self {k:27s} {v:12.3f} s", file=err)
    print("  timeline " + " ".join(f"{k}={v:.1f}" for k, v in r["timeline_s"].items())
          + f" host_steal={r['host_steal_frac']:.3f}", file=err)
    for k, v in r["op_latency_s"].items():
        print(f"  latency {k:28s} {v}", file=err)
    for n in r["notes"]:
        print(f"  note: {n}", file=err)


def run_all(args) -> int:
    """Every workload, untraced then traced, as child runs; prints one table
    with every end-to-end metric and the tracing overhead."""
    out_dir = os.path.join(os.getcwd(), ".perfbench_work", f"all-{os.getpid()}")
    os.makedirs(out_dir)
    rows = {}
    ok = True
    try:
        for w in WORKLOADS:
            for trace in (0, 1):
                path = os.path.join(out_dir, f"{w}-{trace}.json")
                cmd = [
                    sys.executable, os.path.abspath(__file__), "--workload", w,
                    "--seed", str(args.seed), "--seconds", str(args.seconds),
                    "--trace", str(trace), "--report", path,
                ]
                res = subprocess.run(cmd, stdout=subprocess.DEVNULL)
                if res.returncode != 0:
                    ok = False
                    continue
                with open(path) as f:
                    rows[(w, trace)] = json.load(f)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(out_dir))
        except OSError:
            pass  # another run's directory is still there
    for w in WORKLOADS:
        r = rows.get((w, 0))
        if r is None:
            print(f"{w}: run failed")
            continue
        print(f"{w}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
              f"(op_tail_s = p{r['tail_percentile']:.1f}, {r['tail_samples_beyond']} beyond)")
        for k, m in r["metrics"].items():
            print(f"  {k:20s} {measure.fmt(m['value']):>12s} {m['unit']}")
        for sub, ms in r["subsets"].items():
            print(f"  {sub} (the {w} ops that are {sub} queries; setup and memory are shared)")
            for k, m in ms.items():
                print(f"    {k:18s} {measure.fmt(m['value']):>12s} {m['unit']}")
        t = rows.get((w, 1))
        if t is not None:
            base = r["metrics"]["ops_per_s"]["value"]
            traced = t["metrics"]["trace.ops_per_s"]["value"]
            print(f"  tracing overhead     {100 * (1 - traced / base):11.1f} % of ops_per_s "
                  f"(span coverage {t['span_coverage']:.3f})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
