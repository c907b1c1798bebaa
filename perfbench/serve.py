"""``serve``: one client in a closed loop sending queries and writes.

Set-up builds ``quadtree.build_cells`` (persisted) and
``quadtree.with_cell_id(points, 18)`` (persisted) over a seeded point cloud
that mixes uniform points with dense clusters, and bulk-loads the same cloud
into a merge-on-read point table (see ``upsert.py``). The client then sends a
fixed schedule and waits for each reply before sending the next:

- queries against the index: locate (``search.quadrant_search_prefix``), kNN
  (``knn.knn_cells``), PIP (``pip.point_in_polygons_join``), tile assign
  (``tiles.assign_tiles``) and radius (``search.distance_join``), each at a
  small (100 points) and a large (2,000 points) batch size;
- writes: a micro-batch through ``PointTableStream.process_batch``; every
  other write is followed by a range read of the table's current snapshot.

A query's latency runs from building its query DataFrame to holding the
collected reply.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

from . import common as C
from . import upsert as U
from .checks import check_knn, check_locate, check_pip, check_radius, check_tiles

N_POINTS = 10_000
MAX_DEPTH = 18
K = 5
ZOOM = 10
RADIUS = 500.0
SMALL, LARGE = 100, 2_000
CHECK_QUERIES = 60
TYPES = ("locate", "knn", "pip", "tile", "radius")
# one cycle sends each type once; sizes alternate between cycles, so two
# consecutive cycles send every type at both sizes
PATTERN = ((SMALL, LARGE, SMALL, LARGE, SMALL), (LARGE, SMALL, LARGE, SMALL, LARGE))
QUERIES = 2 * len(TYPES)  # every type at both sizes
WRITES = 2 * U.COMPACT_EVERY  # two compaction cycles: the 8th and 16th batches compact
SETUP_REPS = 1  # one cold set-up: index build, bulk load and warm-up
WARM_IDS = 1_000_000  # request ids of the set-up warm-up, never measured


def generate(seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    params = {"n": N_POINTS}
    path = C.input_dir("serve", seed, params)
    if not C.input_ready(path):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.join(path, "points"))
        pid, x, y, centers = C.point_cloud(seed, N_POINTS)
        pq.write_table(
            pa.table({"pid": pid, "x": x, "y": y}),
            os.path.join(path, "points", "part-0.parquet"),
        )
        np.save(os.path.join(path, "centers.npy"), centers)
        C.mark_ready(path, {"input_bytes": C.dir_bytes(os.path.join(path, "points"))})
    t = pq.read_table(os.path.join(path, "points"))
    return {
        "base": t.to_pandas(),
        "path": path,
        "seed": seed,
        "pid": t.column("pid").to_numpy(),
        "x": t.column("x").to_numpy(),
        "y": t.column("y").to_numpy(),
        "centers": np.load(os.path.join(path, "centers.npy")),
        **C.load_meta(path),
    }


def polygons(seed: int) -> list[tuple[int, np.ndarray]]:
    """The package's 32 fixture polygons, each shifted by a seeded offset."""
    from geospatial_cuda_spark.datagen import polygons as fixture

    rng = np.random.default_rng([seed, 0x9017])
    out = []
    for pid, poly in fixture():
        d = rng.integers(-50_000, 50_000, 2).astype(np.float64)
        out.append((pid, poly + d))
    return out


def request(inputs: dict, i: int) -> dict:
    """Request ``i`` of the seeded sequence: type, size and query points."""
    rng = np.random.default_rng([inputs["seed"], i, 0x5E7E])
    kind = TYPES[i % len(TYPES)]
    n = PATTERN[(i // len(TYPES)) % 2][i % len(TYPES)]
    near = rng.random(n) < 0.5
    c = inputs["centers"][rng.integers(0, len(inputs["centers"]), n)]
    x = np.where(near, np.rint(c[:, 0] + rng.normal(0, 3000, n)), rng.integers(0, C.DOMAIN_W, n))
    y = np.where(near, np.rint(c[:, 1] + rng.normal(0, 3000, n)), rng.integers(0, C.DOMAIN_W, n))
    qid = np.int64(i) * 1_000_000 + np.arange(n, dtype=np.int64)
    pdf = pd.DataFrame(
        {
            "qid": qid,
            "x": np.clip(x, 0, C.DOMAIN_W - 1).astype(np.float32),
            "y": np.clip(y, 0, C.DOMAIN_W - 1).astype(np.float32),
        }
    )
    return {"i": i, "kind": kind, "n": n, "pdf": pdf}


def _send(spark, st: dict, req: dict, tracer) -> list:
    """Run one request and return its collected reply."""
    from geospatial_cuda_spark.operators import knn as KN, pip as P, search as S, tiles as T

    q = spark.createDataFrame(req["pdf"], "qid long, x float, y float")
    kind = req["kind"]
    if kind == "locate":
        with tracer.span("search.quadrant_search_prefix", "search", lazy=True, stage="locate"):
            out = S.quadrant_search_prefix(q, st["cells"], max_depth=MAX_DEPTH)
            out = out.select("qid", "x", "y", S.RESULT_COL)
    elif kind == "knn":
        with tracer.span("knn.knn_cells", "knn", lazy=True, stage="knn"):
            out = KN.knn_cells(q, st["pwc"], k=K, depth=st["knn_depth"])
            out = out.select("qid", "pid", "dist2", "rank", "exact")
    elif kind == "pip":
        with tracer.span("pip.point_in_polygons_join", "pip", lazy=True, stage="pip"):
            out = P.point_in_polygons_join(q, st["polys"]).select("qid", "poly_id")
    elif kind == "tile":
        with tracer.span("tiles.assign_tiles", "tiles", lazy=True, stage="tile"):
            out = T.assign_tiles(q, ZOOM).select("qid", "tile_x", "tile_y")
    else:
        with tracer.span("search.distance_join", "search", lazy=True, stage="radius"):
            out = S.distance_join(q, st["points"], RADIUS).select("qid", "pid")
    with tracer.span(f"action.{kind}_collect", "engine", stage=kind):
        return out.collect()


def setup(spark, inputs, tracer) -> dict:
    """Input listing, the index build, the table's bulk load and a warm-up.
    The warm-up sends one small query of each type and runs one compaction
    cycle of content-neutral writes and reads (``upsert.warm_up``), which
    pays codegen, Python-worker start-up and most JIT warm-up before the
    measured requests."""
    from geospatial_cuda_spark.operators import knn as KN, quadtree as QT

    points = spark.read.parquet(os.path.join(inputs["path"], "points"))
    with tracer.span("quadtree.build_cells", "quadtree", lazy=True, stage="quadtree"):
        cells = QT.build_cells(points, max_depth=MAX_DEPTH).persist()
    with tracer.span("action.cells_count", "engine", stage="quadtree"):
        n_cells = cells.count()
    with tracer.span("quadtree.with_cell_id", "quadtree", lazy=True, stage="index"):
        pwc = QT.with_cell_id(points, MAX_DEPTH).persist()
    with tracer.span("action.points_count", "engine", stage="index"):
        pwc.count()
    polys = polygons(inputs["seed"])
    prel = spark.createDataFrame(
        [(int(p), v[:, 0].tolist(), v[:, 1].tolist()) for p, v in polys],
        "poly_id long, xs array<double>, ys array<double>",
    ).persist()
    prel.count()
    st = {
        "points": points,
        "cells": cells,
        "n_cells": n_cells,
        "pwc": pwc,
        "polys": prel,
        "poly_list": polys,
        "knn_depth": KN.choose_knn_depth(len(inputs["pid"]), K),
    }
    for j in range(len(TYPES)):
        req = request(inputs, WARM_IDS + j)
        req["pdf"] = req["pdf"].head(SMALL)
        _send(spark, st, req, tracer)
    st["stream"] = U.bulk_load(
        spark, C.fresh_dir(os.path.join(C.WORK, "serve_table")), points, tracer
    )
    U.warm_up(spark, st["stream"], U.hot_windows(inputs), tracer)
    return st


def _check(req: dict, rows: list, st: dict, inputs: dict, bnds, oracle) -> list[str]:
    pdf = req["pdf"]
    rng = np.random.default_rng([inputs["seed"], req["i"], 0xC4EC])
    take = np.sort(rng.choice(len(pdf), min(CHECK_QUERIES, len(pdf)), replace=False))
    sub = pdf.iloc[take]
    qids, qx, qy = sub["qid"].to_numpy(), sub["x"].to_numpy(), sub["y"].to_numpy()
    keep = set(qids.tolist())
    mine = [r for r in rows if r[0] in keep]
    kind = req["kind"]
    if kind == "locate":
        if len(rows) != len(pdf):
            return [f"locate: {len(rows)} replies for {len(pdf)} queries"]
        return check_locate(mine, bnds, oracle.quadrant_search, seed=req["i"])
    if kind == "knn":
        # radius-1 ring: every point within one depth-d cell edge is a candidate
        guarantee = (C.DOMAIN_W / (1 << st["knn_depth"])) ** 2
        return check_knn(mine, qx, qy, qids, inputs["x"], inputs["y"], inputs["pid"], K, guarantee)
    if kind == "pip":
        return check_pip(mine, qx, qy, qids, st["poly_list"], oracle.ray_cast_pip)
    if kind == "tile":
        if len(rows) != len(pdf):
            return [f"tiles: {len(rows)} replies for {len(pdf)} queries"]
        return check_tiles(mine, qx, qy, qids, ZOOM)
    return check_radius(mine, qx, qy, qids, inputs["x"], inputs["y"], inputs["pid"], RADIUS)


def schedule(n_queries: int, n_writes: int) -> list[tuple[str, int]]:
    """The fixed work of a run: queries and writes spread evenly over it,
    each op at the midpoint of its share (q0 w0 q1 w1 q2 ...)."""
    ops = [((j + 0.5) / n_queries, 0, "query", j) for j in range(n_queries)]
    ops += [((j + 0.5) / n_writes, 1, "write", j) for j in range(n_writes)]
    return [(op, j) for _, _, op, j in sorted(ops)]


def measure(spark, inputs, st, tracer, trace: bool) -> dict:
    """Send the schedule once. A traced run traces every write, and sends
    every query twice, once traced and once not (alternating which goes
    first), so that the overhead estimate compares the same request."""
    from geospatial_cuda_spark import oracle

    cells = st["cells"].select("cell_id", "min_x", "min_y", "max_x", "max_y").collect()
    bnds = np.array([list(c) for c in cells], dtype=np.float64)
    writer = U.Writer(spark, st["stream"], inputs, inputs["base"])
    ops = schedule(QUERIES, WRITES)
    queries, writes, failures = [], [], []
    attempted = 1  # the final-state check
    for unit, (op, j) in enumerate(ops):
        if op == "write":
            traced = tracer.enabled = trace
            attempted += 1
            try:
                with tracer.request(unit, "serve.write"):
                    rec, errs = writer.write(tracer)
            except Exception as e:  # a write that raises counts as failed
                failures.append(f"write {writer.k - 1} raised {type(e).__name__}: {e}")
                continue
            if errs:
                failures.append("; ".join(errs))  # one failed operation
            else:
                writes.append({**rec, "traced": traced})
            continue
        for traced in ((j % 2 == 1, j % 2 == 0) if trace else (False,)):
            tracer.enabled = traced
            attempted += 1
            req = request(inputs, j)
            t0 = time.perf_counter()
            try:
                with tracer.request(unit, f"serve.{req['kind']}", kind=req["kind"], n=req["n"]):
                    rows = _send(spark, st, req, tracer)
            except Exception as e:  # a query that raises counts as failed
                failures.append(f"query {j} ({req['kind']}) raised {type(e).__name__}: {e}")
                continue
            queries.append(
                {"req": req, "rows": rows, "kind": req["kind"], "n": req["n"],
                 "lat": time.perf_counter() - t0, "traced": traced}
            )
    tracer.enabled = False
    ok = []
    for d in queries:  # untimed
        errs = _check(d.pop("req"), d["rows"], st, inputs, bnds, oracle)
        if errs:
            failures.append("; ".join(errs))  # one failed operation
        else:
            rows = d.pop("rows")
            d["n_rows"] = len(rows)
            if d["kind"] == "locate":
                d["located"] = sum(1 for r in rows if r[-1] >= 0)
            if d["kind"] == "knn":
                d["exact"] = sum(1 for r in rows if r[4]) / max(len(rows), 1)
            ok.append(d)
    final, errs = writer.final()
    if errs:
        failures.append("; ".join(errs))
    return {
        "queries": ok,
        "writes": writes,
        "final": final,
        "attempted": attempted,
        "failures": failures,
    }


def metrics(inputs, result) -> dict:
    q = [d["lat"] for d in result["queries"] if not d["traced"]]
    w = [r for r in result["writes"] if not r["traced"]]
    reads = [r["read_s"] for r in w if "read_s" in r]
    return {
        # one client waits for each reply: requests over the time spent
        # waiting, without the client's own checks between requests
        "items_per_s": (len(q) + len(w)) / (sum(q) + sum(r["batch_s"] for r in w) + sum(reads)),
        "op_p50_s": C.median(q),
        "op_p90_s": C.pct(q, 90),
        "write_p50_s": C.median([r["batch_s"] for r in w]),
        "write_p90_s": C.pct([r["batch_s"] for r in w], 90),
        "read_p50_s": C.median(reads),
        **result["final"],
        "query_samples": q,
        "write_samples": [r["batch_s"] for r in w],
        "read_samples": reads,
    }
