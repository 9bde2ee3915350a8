"""Benchmark of the engine, driven only through its public functions.

    python3 perfbench/run.py --workload ohlcv_cache --seed 1 --seconds 8 --trace 0

Workloads (one client, closed loop, local[nproc]):
  ohlcv_cache  cache-or-fetch requests against a seeded OhlcvStore and an
               offline kline exchange, plus the registry's flagship OHLCV
               query (perfbench/wl_ohlcv.py)
  ingest_gate  document micro-batches through the near-dup gate with the ANN
               leg (perfbench/wl_ingest.py)

A run sets up (Spark session, seeded stores, one untimed warm pass), then
runs ops until `--seconds` have passed (ohlcv_cache only stops at the end
of its request pattern) and checks every result. With `--trace 1` class-level
wrappers record a span around each public method listed in `targets()`,
and the run reports per-layer metrics instead of end-to-end ones.
The full results (every metric with unit and sample count, per-op timings,
spans) go to .perfbench/results/ in the checkout; the last stdout line is a
compact JSON summary. `--smoke` runs each workload on tiny inputs for a few
ops. Everything a run writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "binance_data_framework_spark"
WORKLOADS = ("ohlcv_cache", "ingest_gate")
LAYERS = ("api", "sources", "store", "docstore", "ann_index", "streaming", "plans", "spark")
SMOKE_OPS = {"ohlcv_cache": 5, "ingest_gate": 2}


def targets():
    """(class, public method, layer, metric name) of every wrapped method."""
    from binance_data_framework_spark.ann_index import AnnIndexStore
    from binance_data_framework_spark.api import CacheOrFetchLoader
    from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
    from binance_data_framework_spark.sources.rest_klines import PagedKlineSource
    from binance_data_framework_spark.store import OhlcvStore

    out = [(CacheOrFetchLoader, m, "api", m) for m in ("load", "load_incremental", "load_resampled")]
    out += [(PagedKlineSource, m, "sources", m) for m in ("fetch_range", "to_ohlcv")]
    out += [(OhlcvStore, m, "store", m) for m in ("check_data_exists", "get_data", "save_data", "save_many")]
    out += [(DocumentStore, m, "docstore", m) for m in ("append_docs", "read_keys", "save_docs", "read")]
    out += [(DocumentStore, m, "docstore", "maintenance") for m in ("optimize", "maybe_reshard")]
    out += [(BandIndexStore, "candidates", "docstore", "band_candidates")]
    out += [(BandIndexStore, "append", "docstore", "band_append")]
    out += [
        (BandIndexStore, m, "docstore", "maintenance")
        for m in ("compact", "maybe_rebucket", "maybe_fold_deltas")
    ]
    out += [(AnnIndexStore, m, "ann_index", m) for m in ("build", "append", "load", "codes")]
    out += [
        (AnnIndexStore, m, "ann_index", "maintenance")
        for m in ("maybe_rebuild", "compact_codes", "maybe_fold_code_deltas")
    ]
    return out


def configure_env(work: str) -> None:
    """Point Spark, its JVM and its Python workers at the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYSPARK_SUBMIT_ARGS": " ".join(args + ["pyspark-shell"]),
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
        }
    )


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten ops beyond it."""
    if n < 20:
        return None
    return max(p for p in range(50, 100) if n * (100 - p) / 100 >= 10)


def make_workload(name: str, ctx):
    if name == "ohlcv_cache":
        from perfbench.wl_ohlcv import OhlcvCache

        return OhlcvCache(ctx)
    from perfbench.wl_ingest import IngestGate

    return IngestGate(ctx)


def span_totals(rows: list[dict], prefix: str = "") -> dict:
    """Summed self time, self jobs and calls per `layer.name`."""
    by_name: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        by_name[f"{prefix}{r['layer']}.{r['name']}"].append(r)
    m = {}
    for key, rs in sorted(by_name.items()):
        m[f"{key}_s"] = (sum(r["self_s"] for r in rs), "s", len(rs))
        m[f"{key}_jobs"] = (sum(len(r["jobs"]) for r in rs), "count", len(rs))
        m[f"{key}_calls"] = (len(rs), "count", len(rs))
    return m


def layer_metrics(spans: list[dict], ops: list[dict], tracer) -> dict:
    """Per-layer metrics from the spans (with self times) of the timed ops."""
    rows = spans
    n_ops = len(ops)
    wall = sum(op["wall_s"] for op in ops)
    m = span_totals(rows)
    by_layer: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        by_layer[r["layer"]].append(r)
    for layer in LAYERS:
        rs = by_layer.get(layer, [])
        self_s = sum(r["self_s"] for r in rs)
        jobs = sum(len(r["jobs"]) for r in rs)
        m[f"{layer}.self_s"] = (self_s, "s", len(rs))
        m[f"{layer}.self_share"] = (self_s / wall if wall else 0.0, "ratio", n_ops)
        m[f"{layer}.jobs"] = (jobs, "count", len(rs))
        m[f"{layer}.jobs_per_op"] = (jobs / n_ops if n_ops else 0.0, "count", n_ops)
    m["spark.stages"] = (sum(r["stages"] for r in by_layer.get("spark", [])), "count", n_ops)
    m["store.commits"] = (m.get("store.save_data_calls", (0,))[0], "count", n_ops)
    m["trace.overhead_frac"] = (tracer.overhead_s / wall if wall else 0.0, "ratio", n_ops)
    # op time that no layer span claims: the self time of the root op spans
    unclaimed = sum(r["self_s"] for r in rows if r["layer"] == "op")
    m["trace.unattributed_frac"] = (unclaimed / wall if wall else 0.0, "ratio", n_ops)
    return m


def run(args, work: str) -> dict:
    import numpy as np

    from perfbench.common import Ctx, tree_bytes

    t_setup = time.perf_counter()
    t = time.perf_counter()
    from binance_data_framework_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    ctx = Ctx(spark, args.seed, np.random.default_rng(args.seed), work, args.smoke)
    ctx.setup_s["session"] = time.perf_counter() - t
    try:
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = ctx.tracer = Tracer(spark)
            tracer.install(targets())
        wl = make_workload(args.workload, ctx)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        if tracer:  # setup spans have no op id; overhead counts timed ops only
            tracer.resolve_jobs(tracer.spans)
            tracer.overhead_s = 0.0
        ops: list[dict] = []
        sc = spark.sparkContext
        if not tracer:  # the jobs of every timed op join one group
            sc.setLocalProperty("spark.jobGroup.id", "pb-timed")
        t0 = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t0
            if args.smoke and len(ops) >= SMOKE_OPS[args.workload]:
                break
            if not args.smoke and elapsed >= args.seconds and wl.at_boundary():
                break
            op = wl.next_op()
            first_span = len(tracer.spans) if tracer else 0
            if tracer:
                tracer.op_id = len(ops)
            err = None
            t = time.perf_counter()
            try:
                if tracer:
                    with tracer.span("op", op.label or op.kind):
                        result = op.run()
                else:
                    result = op.run()
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                err = traceback.format_exc(limit=4)[-1500:]
            wall = time.perf_counter() - t
            ok = False
            if err is None:
                try:
                    ok = bool(op.check(result))
                except Exception:  # noqa: BLE001 - a check that raises fails the op
                    err = traceback.format_exc(limit=4)[-1500:]
            if tracer:
                tracer.resolve_jobs(tracer.spans[first_span:])
            ops.append({"kind": op.kind, "label": op.label or op.kind, "wall_s": wall, "ok": ok, "error": err})
            if len(ops) == 1:  # after a fixed amount of work, however fast the ops run
                store_b = sum(tree_bytes(r) for r in wl.store_roots())
        timed_s = time.perf_counter() - t0
        if tracer:
            tracer.uninstall()
            jobs = sum(len(s["jobs"]) for s in tracer.spans if s["op"] is not None)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup("pb-timed"))
        try:
            bad = wl.final_check(ops)
        except Exception:  # noqa: BLE001 - counted against the last op
            bad = [traceback.format_exc(limit=4)[-1500:]]
        ops[-1]["final_check"] = bad
        labels = {op["label"] for op in ops}
        for op in ops:
            if op["label"] in bad:
                op["ok"] = False
        if any(b not in labels for b in bad):
            ops[-1]["ok"] = False
        peak_rss = vm_hwm_mb("self") + (vm_hwm_mb(jvm.pid) if jvm else 0.0)
    finally:
        spark.stop()
        gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)

    walls = [op["wall_s"] for op in ops]
    n = len(ops)
    failed = sum(not op["ok"] for op in ops)
    m: dict[str, tuple[float, str, int]] = {
        "setup_s": (setup_s, "s", 1),
        "op_p50_s": (statistics.median(walls), "s", n),
        "ops_per_s": (n / timed_s, "1/s", n),
        "jobs_per_op": (jobs / n, "count", n),
        "failed_frac": (failed / n, "ratio", n),
        "peak_rss_mb": (peak_rss, "MB", 1),
        "store_mb": (store_b / 2**20, "MB", 1),
    }
    tail_p = tail_percentile(n)
    if tail_p is not None:
        m["op_tail_s"] = (float(np.percentile(walls, tail_p)), "s", n)
    for k, v in ctx.setup_s.items():
        m[f"setup.{k}_s"] = (v, "s", 1)
    for k, v in wl.counters().items():
        m[k] = (v, "s" if k.endswith("_s") else "count", n)
    by_query: dict[str, list[float]] = defaultdict(list)
    for op in ops:
        if op["kind"] == "query":
            by_query[op["label"]].append(op["wall_s"])
    for label, ws in sorted(by_query.items()):
        m[f"query.{label}_s"] = (statistics.median(ws), "s", len(ws))
    spans = []
    if tracer:
        from perfbench.trace import self_times

        spans = self_times([s for s in tracer.spans if s["op"] is not None])
        m.update(layer_metrics(spans, ops, tracer))
        m.update(span_totals(self_times([s for s in tracer.spans if s["op"] is None]), "setup."))
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "smoke": args.smoke,
        "timed_s": timed_s,
        "op_tail_percentile": tail_p,
        "metrics": {k: {"value": v, "unit": u, "n": c} for k, (v, u, c) in m.items()},
        "ops": ops,
        "checked": getattr(wl, "checked", None),
        "spans": spans,
    }


def summary(payload: dict, names: list[str]) -> dict:
    ops = payload["ops"]
    failed = sum(not op["ok"] for op in ops)
    met = payload["metrics"]
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": met[k]["value"], "unit": met[k]["unit"]} for k in names},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, a few ops")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package beside {os.path.dirname(__file__)}", file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [x["name"] for x in bench["per_layer" if args.trace else "end_to_end"]]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work)
    sys.path.insert(0, ROOT)
    configure_env(work)
    try:
        payload = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(base, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    spans = payload.pop("spans")
    if spans:
        with open(stem + ".spans.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
    with open(stem + ".json", "w") as f:
        json.dump(payload, f, indent=1)
    print(f"perfbench: full results in {stem}.json", file=sys.stderr)
    print(json.dumps(summary(payload, names)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
