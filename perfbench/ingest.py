"""``ingest``: the flagship pipeline as a batch job.

Reads a seeded image+caption parquet table, then runs
``quadtree.build_cells`` -> ``search.quadrant_search_prefix`` over a phash
sample -> ``tiles.slice_tiles`` -> ``SnapshotTable.commit``, and reads the
committed snapshot back. The pipeline runs once per process, cold, as a
``spark-submit`` job would: the session has run nothing but its set-up.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from . import common as C
from .checks import check_ingest

N_IMAGES = 20_000
ID_STRIDE = 100_000_000  # seed s owns image ids [s*ID_STRIDE, s*ID_STRIDE + N)
MAX_DEPTH = 12
ZOOM = 8
QUERY_MOD = 97
BUCKETS = 32
READS = 7  # read-backs of the committed snapshot per pipeline run
SETUP_REPS = 5  # each is short: input listing and a row count
INPUT_FILES = 8


def generate(seed: int) -> dict:
    """Write the image table for ``seed`` with ``datagen.images_pdf`` and
    derive, independently of the engine, the tile-slice count it must
    produce."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geospatial_cuda_spark.datagen import images_pdf

    params = {"n": N_IMAGES, "stride": ID_STRIDE, "files": INPUT_FILES}
    path = C.input_dir("ingest", seed, params)
    if not C.input_ready(path):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.join(path, "images"))
        lo = (seed % 10**10) * ID_STRIDE
        ids = np.arange(lo, lo + N_IMAGES, dtype=np.uint64)
        for j, part in enumerate(np.array_split(ids, INPUT_FILES)):
            pq.write_table(
                pa.Table.from_pandas(images_pdf(part), preserve_index=False),
                os.path.join(path, "images", f"part-{j:03d}.parquet"),
            )
        t = pq.read_table(os.path.join(path, "images"), columns=["phash", "w", "h"])
        ph = t.column("phash").to_numpy().astype(np.int64).view(np.uint64)
        x = ((ph >> np.uint64(20)) % np.uint64(1_000_000)).astype(np.float64)
        y = (ph % np.uint64(1_000_000)).astype(np.float64)
        w = t.column("w").to_numpy().astype(np.float64)
        h = t.column("h").to_numpy().astype(np.float64)
        size = 1_000_000 / (1 << ZOOM)
        nx = np.floor((x + w - 1) / size) - np.floor(x / size) + 1
        ny = np.floor((y + h - 1) / size) - np.floor(y / size) + 1
        C.mark_ready(
            path,
            {
                "n_images": int(t.num_rows),
                "slice_rows": int((nx * ny).sum()),
                "n_queries": int((ph.view(np.int64) % QUERY_MOD == 0).sum()),
                "input_bytes": C.dir_bytes(os.path.join(path, "images")),
            },
        )
    return {"path": path, **C.load_meta(path)}


def _images(spark, inputs):
    from geospatial_cuda_spark.datagen import with_geotag

    return with_geotag(spark.read.parquet(os.path.join(inputs["path"], "images")))


def _pipeline(spark, images, out_dir, tracer) -> dict:
    """One cold pipeline run; returns its outputs and timings."""
    from pyspark.sql import functions as F

    from geospatial_cuda_spark.entrypoints import release_index
    from geospatial_cuda_spark.operators import quadtree as QT, search as S, tiles as T
    from geospatial_cuda_spark.sources.snapshots import SnapshotTable

    r: dict = {}
    t0 = time.perf_counter()
    with tracer.span("quadtree.build_cells", "quadtree", lazy=True, stage="quadtree"):
        cells = QT.build_cells(images, max_depth=MAX_DEPTH).persist()
    with tracer.span("action.build_root_count", "engine", stage="quadtree"):
        r["n_images"] = int(
            cells.agg(
                F.sum(F.when(F.col("depth") == 0, F.col("count")).otherwise(F.lit(0)))
            ).first()[0]
        )
    with tracer.span("search.quadrant_search_prefix", "search", lazy=True, stage="search"):
        queries = images.where(F.col("phash") % QUERY_MOD == 0).select(
            F.col("phash").alias("qid"), "x", "y"
        )
        found = S.quadrant_search_prefix(queries, cells, max_depth=MAX_DEPTH)
    with tracer.span("action.locate_collect", "engine", stage="search"):
        r["found"] = found.select("qid", "x", "y", S.RESULT_COL).collect()
    with tracer.span("tiles.slice_tiles", "tiles", lazy=True, stage="tiles"):
        slices = T.slice_tiles(images, zoom=ZOOM).withColumn(
            "bucket", F.pmod(F.col("tile_x"), F.lit(BUCKETS))
        )
    table = SnapshotTable(out_dir)
    with tracer.span("snapshots.commit", "snapshots", stage="tiles"):
        tc = time.perf_counter()
        res = table.commit(slices, "bucket")
        r["commit_s"] = time.perf_counter() - tc
    r["wall_s"] = time.perf_counter() - t0
    r["manifest"] = res["snapshot"]

    # read the committed snapshot back, as its readers would
    r["read_s"] = []
    for _ in range(READS):
        with tracer.span("snapshots.read", "snapshots", lazy=True, stage="read"):
            tr = time.perf_counter()
            back = table.read(spark)
        with tracer.span("action.read_count", "engine", stage="read"):
            r["read_rows"] = back.count()
            r["read_s"].append(time.perf_counter() - tr)

    # untimed: the cells relation for the oracle, then release the index
    r["cells"] = cells.select("cell_id", "min_x", "min_y", "max_x", "max_y").collect()
    release_index(cells)
    spark.catalog.clearCache()
    return r


def setup(spark, inputs, tracer) -> dict:
    """Input listing and an input row count. There is no warm-up: the
    measured pipeline is meant to run cold."""
    images = _images(spark, inputs)
    with tracer.span("action.input_count", "engine", stage="setup"):
        n = images.select("phash").count()
    if n != inputs["n_images"]:
        raise RuntimeError(f"input holds {n} images, expected {inputs['n_images']}")
    return {"images": images}


def measure(spark, inputs, state, tracer, trace: bool) -> dict:
    from geospatial_cuda_spark.oracle import quadrant_search
    from geospatial_cuda_spark.sources.snapshots import SnapshotTable

    images = state["images"]
    # (request id, traced). Run 0 is the measured cold run. A traced run
    # traces it, then times four warm runs for the overhead estimate:
    # traced, untraced, untraced, traced, so that the warm runs' own
    # speed-up cancels out. Negative request ids (set-ups use -1, -2, ...)
    # keep the warm traced runs' spans out of the per-layer read-out.
    probes = [(-101, True), (1, False), (2, False), (-102, True)] if trace else []
    plan = [(0, trace)] + probes
    runs, failures, units = [], [], []
    for i, traced in plan:
        tracer.enabled = traced
        out_dir = C.fresh_dir(os.path.join(C.WORK, "ingest_table", f"run{i}"))
        try:
            with tracer.request(i, "ingest.pipeline"):
                r = _pipeline(spark, images, out_dir, tracer)
            r["bytes_added"] = C.dir_bytes(out_dir)
            r["table_files"], r["table_bytes"] = C.manifest_files(
                SnapshotTable(out_dir), r["manifest"]
            )
            bnds = np.array(
                [[c.cell_id, c.min_x, c.min_y, c.max_x, c.max_y] for c in r["cells"]],
                dtype=np.float64,
            )
            errs = check_ingest(r, inputs, bnds, quadrant_search)
        except Exception as e:  # a run that raises counts as failed
            errs = [f"run {i} raised {type(e).__name__}: {e}"]
            r = None
        if errs:
            failures.append("; ".join(errs))  # one failed operation
        else:
            runs.append(r)
            units.append((i, tracer.enabled))
        shutil.rmtree(out_dir, ignore_errors=True)
    walls = {i: r["wall_s"] for r, (i, _) in zip(runs, units)}
    overhead = 0.0
    if probes and {i for i, _ in probes} <= set(walls):
        overhead = (walls[-101] + walls[-102]) / (walls[1] + walls[2]) - 1.0
    return {
        "runs": runs,
        "attempted": len(plan),
        "failures": failures,
        "units": units,
        "overhead": overhead,
    }


def metrics(inputs, result) -> dict:
    """End-to-end readings of the cold run: one pipeline, so each p50 and
    p90 is that one sample; the read-backs give READS samples."""
    runs = result["runs"]
    if not runs:  # the run failed its checks; every metric reads 0
        return {}
    walls = [r["wall_s"] for r in runs]
    commits = [r["commit_s"] for r in runs]
    return {
        "items_per_s": inputs["n_images"] / C.median(walls),
        "op_p50_s": C.median(walls),
        "op_p90_s": C.pct(walls, 90),
        "write_p50_s": C.median(commits),
        "write_p90_s": C.pct(commits, 90),
        "read_p50_s": C.median([t for r in runs for t in r["read_s"]]),
        "write_amp": C.median([r["bytes_added"] / inputs["input_bytes"] for r in runs]),
        "space_bytes_per_row": C.median([r["table_bytes"] / r["read_rows"] for r in runs]),
        "run_samples": walls,
        "commit_samples": commits,
    }
