"""The write side of ``serve``: a merge-on-read point table fed by
micro-batches of mutations.

Set-up bulk-loads the seeded point cloud into a ``PointTableStream`` table.
Each write request sends one micro-batch of mutations (insert-if-missing and
delete-by-value) through ``process_batch``, which appends one delta batch and
compacts a bucket once it holds 8 pending delta batches (the default). A
range read of the current snapshot follows every other write, when 1, 3, 5
or 7 delta batches are pending. Every range read is checked against a pandas
replay of the mutations, and so is the whole table's content while delta
batches are pending.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from . import common as C
from .checks import Replay, check_content, check_read

BATCH = 500
HOT = 60_000  # edge of the two hot write windows
CELL = 125_000  # edge of a table bucket: a depth-3 quadtree cell
BOX = 200_000  # range-read window edge
WARM_ROWS = 500
COMPACT_EVERY = 8  # PointTableStream's default compact_threshold
CONTENT_CHECK_AT = 3  # after the 4th batch: 4 delta batches pending
READ_EVERY = 2  # a range read follows writes 0, 2, 4, 6 of each cycle


def hot_windows(inputs: dict) -> np.ndarray:
    """Lower-left corners of the two seeded hot write windows, each centred
    in its own table bucket away from the point cloud's clusters."""
    rng = np.random.default_rng([inputs["seed"], 0x407])
    n = C.DOMAIN_W // CELL
    cells = [
        (i, j)
        for i in range(n)
        for j in range(n)
        if not any(
            i * CELL - 20_000 <= cx < (i + 1) * CELL + 20_000
            and j * CELL - 20_000 <= cy < (j + 1) * CELL + 20_000
            for cx, cy in inputs["centers"]
        )
    ]
    pick = rng.choice(len(cells), 2, replace=False)
    pad = (CELL - HOT) // 2
    return np.array([[cells[p][0] * CELL + pad, cells[p][1] * CELL + pad] for p in pick])


def read_box(rng, windows: np.ndarray) -> tuple[float, float, float, float]:
    """A range-read box, BOX on a side, that holds one of the hot windows, so
    that the read folds that window's pending deltas."""
    wx, wy = windows[rng.integers(0, len(windows))]
    x0, y0 = np.clip([wx, wy] - rng.integers(0, BOX - HOT, 2), 0, C.DOMAIN_W - BOX)
    return (float(x0), float(y0), float(x0 + BOX), float(y0 + BOX))


class Mutations:
    """Seeded mutation stream. Batch ``k`` depends on the seed and on the
    live table state, which the pandas replay tracks. Writes are hot: every
    mutation falls in one of the two ``hot_windows``, so every seed writes
    to two buckets of similar size. Per batch, 70% inserts of
    new points, 5% re-inserts of live keys under a new pid (no-ops), 20%
    deletes of live keys and 5% deletes of absent keys (no-ops)."""

    def __init__(self, inputs: dict, replay: Replay):
        self.seed = inputs["seed"]
        self.replay = replay
        self.next_pid = 10_000_000
        self.windows = hot_windows(inputs)

    def _in_windows(self, df: pd.DataFrame) -> np.ndarray:
        x, y = df["x"].to_numpy(), df["y"].to_numpy()
        hit = np.zeros(len(df), bool)
        for wx, wy in self.windows:
            hit |= (x >= wx) & (x < wx + HOT) & (y >= wy) & (y < wy + HOT)
        return hit

    def batch(self, k: int) -> pd.DataFrame:
        rng = np.random.default_rng([self.seed, k, 0xB47C])
        n_ins, n_re, n_del = int(BATCH * 0.70), int(BATCH * 0.05), int(BATCH * 0.20)
        n_abs = BATCH - n_ins - n_re - n_del

        def coords(n: int, frac: float):
            w = self.windows[rng.integers(0, len(self.windows), n)]
            # new points sit on half-integers, so they never collide with
            # the integer base cloud; absent deletes sit on quarter-integers
            return (
                (w[:, 0] + rng.integers(0, HOT - 1, n) + frac).astype(np.float32),
                (w[:, 1] + rng.integers(0, HOT - 1, n) + frac).astype(np.float32),
            )

        ix, iy = coords(n_ins, 0.5)
        ins = pd.DataFrame(
            {
                "qtype": "i",
                "pid": np.arange(self.next_pid, self.next_pid + n_ins, dtype=np.int64),
                "x": ix,
                "y": iy,
            }
        ).drop_duplicates(["x", "y"])
        self.next_pid += n_ins
        live = self.replay.state
        live = live[self._in_windows(live)]
        pick = rng.choice(len(live), min(len(live), n_re + n_del), replace=False)
        re_rows = live.iloc[pick[:n_re]]
        re = pd.DataFrame(
            {
                "qtype": "i",
                "pid": np.arange(self.next_pid, self.next_pid + len(re_rows), dtype=np.int64),
                "x": re_rows["x"].to_numpy(np.float32),
                "y": re_rows["y"].to_numpy(np.float32),
            }
        )
        self.next_pid += len(re_rows)
        dl = live.iloc[pick[n_re:]]
        dels = pd.DataFrame(
            {"qtype": "d", "pid": dl["pid"].to_numpy(np.int64),
             "x": dl["x"].to_numpy(np.float32), "y": dl["y"].to_numpy(np.float32)}
        )
        ax, ay = coords(n_abs, 0.25)
        ab = pd.DataFrame({"qtype": "d", "pid": np.full(n_abs, -1, np.int64), "x": ax, "y": ay})
        return pd.concat([ins, re, dels, ab], ignore_index=True)


def bulk_load(spark, state_dir: str, base_df, tracer):
    from pyspark.sql import functions as F

    from geospatial_cuda_spark.functions.cells import cell_id_col
    from geospatial_cuda_spark.streaming.upserts import BUCKET_COL, PointTableStream

    stream = PointTableStream(spark, state_dir)
    rows = base_df.select(
        "pid", "x", "y", cell_id_col(F.col("x"), F.col("y"), stream.bucket_depth).alias(BUCKET_COL)
    )
    with tracer.span("snapshots.commit", "snapshots", stage="bulk_load"):
        stream.table.commit(rows, BUCKET_COL)
    return stream


def range_read(stream, box, tracer) -> int:
    from pyspark.sql import functions as F

    x0, y0, x1, y1 = box
    with tracer.span("snapshots.read", "snapshots", lazy=True, stage="read"):
        df = stream.read_points().where(
            F.col("x").between(x0, x1) & F.col("y").between(y0, y1)
        )
    with tracer.span("action.read_count", "engine", stage="read"):
        return df.count()


def warm_up(spark, stream, windows: np.ndarray, tracer) -> None:
    """One compaction cycle on the table, shaped like a measured one:
    COMPACT_EVERY batches of WARM_ROWS deletes in the hot windows, and a
    range read after every other batch. The deletes name absent keys only,
    so the content does not change, and the last batch compacts both hot
    buckets. Every measured cycle then starts from a compacted bucket, as
    the second does, and the JIT has warmed up on the write path."""
    from geospatial_cuda_spark.streaming.upserts import MUTATION_SCHEMA

    rng = np.random.default_rng(0x3A4)
    for k in range(COMPACT_EVERY):
        w = windows[rng.integers(0, len(windows), WARM_ROWS)]
        # quarter-integers: never in the table
        x = (w[:, 0] + rng.integers(0, HOT - 1, WARM_ROWS) + 0.25).astype(np.float32)
        y = (w[:, 1] + rng.integers(0, HOT - 1, WARM_ROWS) + 0.25).astype(np.float32)
        wb = pd.DataFrame({"qtype": "d", "pid": np.full(WARM_ROWS, -1, np.int64), "x": x, "y": y})
        stream.process_batch(spark.createDataFrame(wb, MUTATION_SCHEMA), k)
        if k % READ_EVERY == 0:
            range_read(stream, read_box(rng, windows), tracer)


def pending(manifest: dict) -> int:
    return sum(len(v) for v in (manifest.get("deltas") or {}).values())


class Writer:
    """Client state of the write side: the table, the mutation stream and
    the pandas replay that checks every read."""

    def __init__(self, spark, stream, inputs: dict, base: pd.DataFrame):
        self.spark = spark
        self.stream = stream
        self.replay = Replay(base)
        self.gen = Mutations(inputs, self.replay)
        self.rng = np.random.default_rng([inputs["seed"], 0x4EAD])
        self.bytes0 = C.dir_bytes(stream.points_path)
        self.submitted = 0
        self.k = 0

    def write(self, tracer) -> tuple[dict, list[str]]:
        """One micro-batch, then, on every other write, one range read.
        Returns its record and the errors of its checks."""
        from geospatial_cuda_spark.streaming.upserts import MUTATION_SCHEMA

        k, self.k = self.k, self.k + 1
        pdf = self.gen.batch(k)
        self.submitted += int(pdf["qtype"].str.len().sum() + 16 * len(pdf))  # + pid, x, y
        box = read_box(self.rng, self.gen.windows)
        table = self.stream.table
        before = C.dir_bytes(self.stream.points_path)
        pend0 = pending(table.current() or {})
        rec = {"k": k, "rows": len(pdf)}
        try:
            t0 = time.perf_counter()
            with tracer.span("upserts.process_batch", "upserts", stage="batch"):
                self.stream.process_batch(self.spark.createDataFrame(pdf, MUTATION_SCHEMA), k)
            rec["batch_s"] = time.perf_counter() - t0
            if k % READ_EVERY == 0:
                t1 = time.perf_counter()
                count = range_read(self.stream, box, tracer)
                rec["read_s"] = time.perf_counter() - t1
        finally:
            self.replay.apply(pdf)
        m = table.current()
        rec["compacted"] = pending(m) <= pend0
        rec["files"] = C.manifest_files(table, m)[0]
        rec["bytes"] = C.dir_bytes(self.stream.points_path) - before
        errs = check_read(count, self.replay.count_in(box), k) if "read_s" in rec else []
        if k == CONTENT_CHECK_AT:  # untimed
            errs += check_content(self.stream.read_points().toPandas(), self.replay, f"batch {k}")
        return rec, errs

    def final(self) -> tuple[dict, list[str]]:
        """Untimed: the final state against the replay, and the table's
        write and space amplification."""
        final = self.stream.read_points().toPandas()
        table = self.stream.table
        return (
            {
                "write_amp": (C.dir_bytes(self.stream.points_path) - self.bytes0) / self.submitted,
                "space_bytes_per_row": C.manifest_files(table, table.current())[1] / len(final),
            },
            check_content(final, self.replay, "final state"),
        )
