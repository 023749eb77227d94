"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one seeded workload against the engine's public functions from a single
driver process on ``local[nproc]``, as a closed loop with one client: each
operation (public call + the action that materialises its result) finishes
before the next starts. Every output is checked. Human-readable lines go to
stdout first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named in
BENCHMARK.json. See perfbench/README.md for every workload and metric.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
PROBE_S = 0.2


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it: the gateway exits
    when its stdin pipe closes, taking its Python workers with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "copernicusdata_jl_spark")):
        _fail(f"engine package copernicusdata_jl_spark not found under {ROOT}")
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()

    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    spec = _spec()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d))
    runs_dir = os.path.join(ROOT, ".perfbench_work", "runs")
    os.makedirs(runs_dir, exist_ok=True)
    # every file Spark, the JVM and Python workers write stays in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    try:
        return _run(args, spec, work, runs_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec: dict, work: str, runs_dir: str) -> int:
    import pyarrow
    import pyspark

    from copernicusdata_jl_spark.session import get_spark
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS
    from tools.host_probe import quick_probe

    nproc = len(os.sched_getaffinity(0))
    probe_before = quick_probe(PROBE_S)
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    attempted = failed = 0
    errors: list[str] = []
    walls: dict[str, list[float]] = {}
    per_cycle: dict[str, int] = {}

    with T.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{nproc}]",
                          shuffle_partitions=2 * nproc, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        try:
            wl = WORKLOADS[args.workload](spark, args.seed, work)
            tr = T.Tracer(spark.sparkContext, enabled=bool(args.trace))
            # inputs and their expected outputs are the benchmark's own driver
            # work, which no engine change can move: timed, but not in setup_s
            t0 = time.perf_counter()
            wl.generate()
            gen_s = time.perf_counter() - t0
            ingest_s = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.ingest(rep)
                ingest_s.append(time.perf_counter() - t0)

            def run_cycle(record: bool, traced: bool = False) -> float:
                nonlocal attempted, failed
                total = 0.0
                tr.enabled = traced
                with tr.span("cycle"):
                    for op in wl.cycle():
                        attempted += 1
                        with tr.span(op.name, group=True):
                            t = time.perf_counter()
                            try:
                                res = op.run()
                            except Exception:  # an operation that raises is a failed op
                                failed += 1
                                errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
                                continue
                            dt = time.perf_counter() - t
                        total += dt
                        err = op.check(res)
                        if err:
                            failed += 1
                            errors.append(f"{op.name}: {err}")
                        if record:
                            walls.setdefault(op.name, []).append(dt)
                wl.after_cycle()
                return total

            t0 = time.perf_counter()
            run_cycle(record=False)  # warm-up: codegen, JIT, Python workers
            warm_s = time.perf_counter() - t0
            setup_s = session_s + statistics.median(ingest_s) + warm_s
            for op in wl.cycle():
                per_cycle[op.name] = per_cycle.get(op.name, 0) + 1

            layer: dict[str, float] = {}
            cyc_on: list[float] = []
            cyc_off: list[float] = []
            t_end = time.perf_counter() + args.seconds
            n_cycles = 0
            # traced runs alternate untraced/traced cycles (off, on, off, ...) so
            # trace.overhead_s is not biased by the warm-up trend
            min_cycles = max(wl.min_cycles, 1 + 2 * args.trace)
            while n_cycles < min_cycles or time.perf_counter() < t_end:
                traced = bool(args.trace) and n_cycles % 2 == 1
                c = run_cycle(record=not args.trace or not traced, traced=traced)
                (cyc_on if traced else cyc_off).append(c)
                n_cycles += 1
            if args.trace:
                tr.enabled = True
                with tr.span("layers"):
                    layer = wl.layers(tr)
        finally:
            spark.stop()
            _stop_jvm()
    probe_after = quick_probe(PROBE_S)

    med = {k: statistics.median(v) for k, v in walls.items()}
    cycle_s = sum(per_cycle[k] * med[k] for k in per_cycle if k in med)
    e2e = {
        "setup_s": setup_s,
        "cycle_s": cycle_s,
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    detail = {
        "session_s": session_s, "generate_s": gen_s, "ingest_s": ingest_s, "warmup_s": warm_s,
        "cycles": n_cycles, "op_median_s": med, "op_walls_s": walls,
        "error_rate": failed / attempted if attempted else 0.0, "errors": errors[:5],
        "input_props": wl.props, "op_stats": wl.stats,
    }
    detail.update(_op_figures(med, wl.stats))

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        per_group = T.parse_event_log(T.event_log_files(os.path.join(work, "eventlog")))
        span_names = {s["name"] for s in tr.spans}
        # per execution of a layer span (layer passes repeat each span)
        n_spans = {n: sum(s["name"] == n for s in tr.spans) for n in span_names}
        ev = {n: {m: v / n_spans[n] for m, v in T.group_sum(per_group, n).items()} for n in span_names}
        for m in ("exec_cpu_s", "shuffle_write_bytes", "gc_s"):
            vals = T.segment_self({n: ev[n][m] for n in wl.segment_parents if n in ev},
                                  wl.segment_parents)
            for name in span_names:
                layer.setdefault(f"{name}.{m}", vals.get(name, ev[name][m]))
        for name in ("operators.knn.kring.driver", "operators.knn.kring.dataframe"):
            if name in ev:
                layer[f"{name}.jobs"] = ev[name]["jobs"]
        ops = set(per_cycle)
        tot = {m: 0.0 for m in T.EVENT_METRICS}
        for g, a in per_group.items():
            if g.split("#")[0] in ops:
                for m in T.EVENT_METRICS:
                    tot[m] += a[m]
        n_on = max(1, len(cyc_on))
        tot = {m: v / n_on for m, v in tot.items()}  # per traced cycle
        layer.update({
            "spark.jobs": tot["jobs"], "spark.tasks": tot["tasks"], "spark.exec_cpu_s": tot["exec_cpu_s"],
            "spark.gc_s": tot["gc_s"], "spark.shuffle_bytes": tot["shuffle_write_bytes"],
            "spark.spill_bytes": tot["spill_bytes"],
            "trace.overhead_s": (statistics.median(cyc_on) - statistics.median(cyc_off))
            if cyc_on and cyc_off else 0.0,
        })
        tr.dump(os.path.join(runs_dir, f"spans-{args.workload}-{args.seed}.json"))
        wanted = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": units[n]} for n in wanted}
        detail["layers_all"] = layer
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}

    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": nproc, "host_probe_before": probe_before, "host_probe_after": probe_after,
        "spark": pyspark.__version__, "java": java, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }
    record = {"provenance": provenance, "detail": detail, "metrics": metrics}
    with open(os.path.join(runs_dir, f"run-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for k, v in sorted(metrics.items()):
        print(f"{k} {v['value']:.6g} {v['unit']}")
    for k, v in sorted(detail.items()):
        if isinstance(v, (int, float)):
            print(f"{k} {v:.6g}")
    for e in errors[:5]:
        print(f"ERROR {e}")
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


# per-operation figures printed and recorded by their documented names
OP_FIGURES = {
    "spatial_join": "spatial_join_s", "tile_pyramid": "tile_pyramid_s", "knn": "knn_s",
    "knn_bulk": "knn_bulk_s", "minhash_dedup": "minhash_dedup_s", "fuzzy_neardup": "fuzzy_neardup_s",
    "containment": "containment_s", "commit": "commit_s", "upsert": "upsert_s",
    "point_read": "point_read_s", "scan_read": "scan_read_s",
}


def _op_figures(med: dict[str, float], stats: dict[str, float]) -> dict[str, float]:
    out = {OP_FIGURES[k]: v for k, v in med.items() if k in OP_FIGURES}
    if "flagship" in med:
        out["docs_per_s"] = stats["docs"] / med["flagship"]
    if "space_amp" in stats:
        out["space_amp"] = stats["space_amp"]
    return out


if __name__ == "__main__":
    sys.exit(main())
