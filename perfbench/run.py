#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py [--workload ingest|serve|all] [--seed N]
                             [--seconds S] [--trace 0|1]

Runs one workload (or, with ``all``, each workload in its own process) on
local[4] from the root of a checkout. Each workload does a fixed amount of
work, so that every run has the same composition; ``--seconds`` is accepted
and only recorded. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. A run whose outputs fail a check prints
``"correct": false`` and exits 1. Reports and spans go to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import multiprocessing
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if os.path.dirname(HERE) not in sys.path:
    sys.path.insert(0, os.path.dirname(HERE))

from perfbench import common as C  # noqa: E402
from perfbench.trace import TraceView, Tracer  # noqa: E402

WORKLOADS = ("ingest", "serve")


def load_spec() -> dict:
    with open(os.path.join(C.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _layers_ingest(view: TraceView, res: dict) -> dict:
    runs = [r for r, (i, traced) in zip(res["runs"], res["units"]) if traced and i >= 0]
    med = view.med
    return {
        "quadtree.build_s": view.stage("quadtree"),
        "quadtree.cells": med(len(r["cells"]) for r in runs),
        "search.locate_s": view.stage("search"),
        "search.located_ratio": med(
            sum(1 for f in r["found"] if f[3] >= 0) / max(len(r["found"]), 1) for r in runs
        ),
        "tiles.slice_commit_s": view.stage("tiles"),
        "tiles.slice_rows": med(r["manifest"]["metrics"]["rows_written"] for r in runs),
        "snapshots.commit_write_s": med(r["manifest"]["metrics"]["wall_sec"] for r in runs),
        "snapshots.commit_publish_s": med(
            r["commit_s"] - r["manifest"]["metrics"]["wall_sec"] for r in runs
        ),
        "snapshots.files_written": med(r["table_files"] for r in runs),
        "snapshots.bytes_written": med(r["table_bytes"] for r in runs),
        "snapshots.read_s": med(t for r in runs for t in r["read_s"]),
        "snapshots.files_per_read": med(r["table_files"] for r in runs),
    }


def _layers_serve(view: TraceView, res: dict, st: dict) -> dict:
    done = [d for d in res["queries"] if d["traced"]]
    loc = [d for d in done if d["kind"] == "locate"]
    knn = [d for d in done if d["kind"] == "knn"]
    pip = [d for d in done if d["kind"] == "pip"]
    w = [r for r in res["writes"] if r["traced"]]
    plain = [r for r in w if not r["compacted"]]
    comp = [r for r in w if r["compacted"]]
    return {
        "quadtree.build_s": view.stage("quadtree", setup=True),
        "quadtree.cells": float(st["n_cells"]),
        "search.locate_s": view.stage("locate"),
        "search.located_ratio": (
            sum(d["located"] for d in loc) / sum(d["n"] for d in loc) if loc else 0.0
        ),
        "search.distance_s": view.stage("radius"),
        "tiles.assign_s": view.stage("tile"),
        "knn.knn_s": view.stage("knn"),
        "knn.exact_ratio": view.med(d["exact"] for d in knn),
        "pip.join_s": view.stage("pip"),
        "pip.pairs": sum(d["n_rows"] for d in pip) / len(pip) if pip else 0.0,
        "snapshots.read_s": view.stage("read"),
        "snapshots.files_per_read": view.med(r["files"] for r in w),
        "upserts.batch_s": view.med(r["batch_s"] for r in plain),
        "upserts.compact_batch_s": view.med(r["batch_s"] for r in comp),
        "upserts.bytes_per_batch": view.med(r["bytes"] for r in plain),
    }


def _overhead_paired(queries: list[dict]) -> float:
    """Median over query (type, size) pairs of traced / untraced latency, - 1."""
    pairs: dict[tuple, dict] = {}
    for d in queries:
        pairs.setdefault((d["kind"], d["n"]), {})[d["traced"]] = d["lat"]
    ratios = [p[True] / p[False] for p in pairs.values() if len(p) == 2]
    return C.median(ratios) - 1.0 if ratios else 0.0


def run_one(workload: str, seed: int, trace: bool, seconds: float | None = None) -> int:
    spec = load_spec()
    C.prepare_env()
    import geospatial_cuda_spark  # noqa: F401  (fails fast outside a checkout)

    W = importlib.import_module(f"perfbench.{workload}")
    os.makedirs(C.OUT, exist_ok=True)
    hw_before = C.hardware_control()

    t = time.perf_counter()
    # a child process writes the inputs, so that the client's peak memory
    # leaves out their generation; the call below then only loads them
    child = multiprocessing.get_context("fork").Process(target=W.generate, args=(seed,))
    child.start()
    child.join()
    inputs = W.generate(seed)
    generate_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = C.new_session()
    spark.range(1).count()
    jvm_start_s = time.perf_counter() - t

    tracer = Tracer(enabled=False)
    tracer.bind(spark)
    setups = []
    for r in range(W.SETUP_REPS):
        tracer.enabled = trace
        t = time.perf_counter()
        with tracer.request(-1 - r, "setup"):
            st = W.setup(spark, inputs, tracer)
        setups.append(time.perf_counter() - t)
    tracer.enabled = False
    res = W.measure(spark, inputs, st, tracer, trace)
    tracer.enabled = False
    hw_after = C.hardware_control()
    rss = {"jvm_mb": C.vm_hwm_mb(C.jvm_pid(spark)), "client_mb": C.vm_hwm_mb()}
    peak_rss_mb = sum(rss.values())

    failed = len(res["failures"])  # one message per failed operation
    attempted = res["attempted"]
    e2e, samples = {}, {}
    if not trace:  # end-to-end numbers come from untraced units only
        e2e = W.metrics(inputs, res)
        samples = {k: e2e.pop(k) for k in list(e2e) if k.endswith("samples")}
        e2e.update(
            setup_s=C.median(setups),
            success_rate=(attempted - failed) / attempted,
            peak_rss_mb=peak_rss_mb,
        )

    layer = {}
    if trace:
        view = TraceView(tracer, spark)
        layer = view.common()
        if workload == "ingest":
            layer.update(_layers_ingest(view, res))
            layer["trace.overhead_ratio"] = res["overhead"]
        else:
            layer.update(_layers_serve(view, res, st))
            layer["trace.overhead_ratio"] = _overhead_paired(res["queries"])
        tracer.write(os.path.join(C.OUT, f"{workload}-s{seed}-spans.jsonl"), layer)
    C.stop_session(spark)

    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = layer if trace else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    correct = failed == 0
    report = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "failures": res["failures"][:20],
        "samples": samples,
        "setup_runs_s": setups,
        "jvm_start_s": jvm_start_s,
        "generate_s": generate_s,
        "peak_rss_parts": rss,
        "hardware_control": {"before": hw_before, "after": hw_after},
        "metrics": metrics,
    }
    with open(os.path.join(C.OUT, f"{workload}-s{seed}-t{int(trace)}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for name, m in metrics.items():
        print(f"# {workload} {name} = {m['value']:.6g} {m['unit']}")
    counts = {k: len(v) for k, v in samples.items()}
    print(f"# samples {json.dumps(counts)}  hardware {json.dumps(report['hardware_control'])}")
    for msg in res["failures"][:5]:
        print(f"# FAILED {msg}")
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None, help="recorded only; the work is fixed")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)
    if args.workload != "all":
        # numpy seed sequences take non-negative words
        return run_one(args.workload, args.seed % (1 << 63), bool(args.trace), args.seconds)
    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--trace", str(args.trace)]
        rc |= subprocess.run(cmd, check=False).returncode
    return rc


if __name__ == "__main__":
    sys.exit(main())
