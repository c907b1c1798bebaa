#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py [--quick]

1. Every output check passes on a correct result and fires on a deliberately
   corrupted one (numpy/pandas only, a few seconds).
2. Input generation is a pure function of the seed: the same seed rebuilds
   byte-identical inputs, another seed builds different ones.
3. Unless ``--quick``: each workload, shrunk to tiny inputs, runs under two
   seeds; both runs pass their checks and report the same metric names and
   units (about four minutes on 4 vCPU).

Exits 1 on the first failed expectation.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
if os.path.dirname(HERE) not in sys.path:
    sys.path.insert(0, os.path.dirname(HERE))

from perfbench import checks as K  # noqa: E402
from perfbench import common as C  # noqa: E402


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def fires(errs: list[str]) -> bool:
    return bool(errs)


def test_checks() -> None:
    from geospatial_cuda_spark import oracle

    rng = np.random.default_rng(0)
    px = rng.integers(0, 1_000_000, 400).astype(np.float32)
    py = rng.integers(0, 1_000_000, 400).astype(np.float32)
    pid = np.arange(400, dtype=np.int64)
    qx = rng.integers(0, 1_000_000, 30).astype(np.float32)
    qy = rng.integers(0, 1_000_000, 30).astype(np.float32)
    qids = np.arange(30, dtype=np.int64)

    # locate: the oracle's own answer passes, one wrong cell id fires
    bnds = oracle.boundaries_array(oracle.build_quadtree(px, py))
    want = oracle.quadrant_search(qx, qy, bnds)
    rows = [(int(q), float(x), float(y), int(c)) for q, x, y, c in zip(qids, qx, qy, want)]
    expect(not K.check_locate(rows, bnds, oracle.quadrant_search), "locate passes the oracle's answer")
    bad = list(rows)
    bad[3] = bad[3][:3] + (bad[3][3] + 1,)
    expect(fires(K.check_locate(bad, bnds, oracle.quadrant_search)), "locate fires on a wrong cell id")

    # ingest: root count, slice rows, read-back and result count
    r = {"n_images": 100, "manifest": {"metrics": {"rows_written": 103}}, "read_rows": 103,
         "found": rows}
    inputs = {"n_images": 100, "slice_rows": 103, "n_queries": len(rows)}
    expect(not K.check_ingest(r, inputs, bnds, oracle.quadrant_search), "ingest passes a correct run")
    for key, value in (("n_images", 99), ("read_rows", 102)):
        expect(fires(K.check_ingest({**r, key: value}, inputs, bnds, oracle.quadrant_search)),
               f"ingest fires on a wrong {key}")
    wrong = {**r, "manifest": {"metrics": {"rows_written": 104}}}
    expect(fires(K.check_ingest(wrong, inputs, bnds, oracle.quadrant_search)),
           "ingest fires on a wrong slice_rows")

    # kNN: brute force passes; a wrong distance, a dropped query or a
    # mislabelled inexact reply fires
    k, g2 = 5, 250_000.0**2
    rows = []
    for q, x, y in zip(qids, qx, qy):
        d2 = (px - np.float32(x)) ** 2 + (py - np.float32(y)) ** 2
        near = np.argsort(d2, kind="stable")[:k]
        rows += [(int(q), int(pid[i]), float(d2[i]), j + 1, True) for j, i in enumerate(near)]
    knn = lambda rs: K.check_knn(rs, qx, qy, qids, px, py, pid, k, g2)  # noqa: E731
    expect(not knn(rows), "knn passes brute force")
    bad = list(rows)
    bad[7] = (bad[7][0], bad[7][1], bad[7][2] * 1.5 + 1.0, bad[7][3], True)
    expect(fires(knn(bad)), "knn fires on a wrong distance")
    expect(fires(knn([r for r in rows if r[0] != 4])), "knn fires on a dropped query")
    expect(fires(knn(rows[:-1])), "knn fires on a missing row")
    inexact = [r[:4] + (False,) for r in rows]
    expect(not knn(inexact), "knn passes an all-inexact reply of real nearest points")
    far = list(inexact)
    q0 = far[0][0]
    d2 = (px - qx[0]) ** 2 + (py - qy[0]) ** 2
    i = int(np.argsort(d2, kind="stable")[k + 3])  # a real point, not among the k nearest
    far[k - 1] = (q0, int(pid[i]), float(d2[i]), k, False)
    expect(not knn(far), "knn passes an inexact reply that names a farther real point")
    expect(fires(knn([r[:4] + (True,) for r in far])), "knn fires on that reply flagged exact")
    fake = list(inexact)
    fake[2] = fake[2][:2] + (fake[2][2] * 0.5, fake[2][3], False)
    expect(fires(knn(fake)), "knn fires on an inexact row whose distance is not its point's")
    swapped = list(inexact)
    swapped[0], swapped[1] = swapped[0][:3] + (2, False), swapped[1][:3] + (1, False)
    expect(fires(knn(swapped)), "knn fires on ranks out of distance order")

    # PIP: ray-cast pairs pass, a missing pair fires
    square = np.array([[0.0, 0.0], [600_000.0, 0.0], [600_000.0, 600_000.0], [0.0, 600_000.0]])
    polys = [(7, square)]
    inside = oracle.ray_cast_pip(qx, qy, square)
    pairs = [(int(q), 7) for q in qids[inside]]
    expect(len(pairs) > 0, "pip fixture has points inside")
    expect(not K.check_pip(pairs, qx, qy, qids, polys, oracle.ray_cast_pip), "pip passes ray casting")
    expect(fires(K.check_pip(pairs[1:], qx, qy, qids, polys, oracle.ray_cast_pip)),
           "pip fires on a missing pair")

    # tiles: closed form passes, a shifted tile fires
    n = 1 << 10
    tiles = [
        (int(q), min(int(x) * n // 1_000_000, n - 1), n - 1 - min(int(y) * n // 1_000_000, n - 1))
        for q, x, y in zip(qids, qx, qy)
    ]
    expect(not K.check_tiles(tiles, qx, qy, qids, 10), "tiles passes the closed form")
    bad = list(tiles)
    bad[0] = (bad[0][0], bad[0][1] + 1, bad[0][2])
    expect(fires(K.check_tiles(bad, qx, qy, qids, 10)), "tiles fires on a wrong tile")

    # radius: brute force passes, a dropped point fires
    radius = 120_000.0
    pairs = []
    for q, x, y in zip(qids, qx, qy):
        d2 = (px.astype(float) - x) ** 2 + (py.astype(float) - y) ** 2
        pairs += [(int(q), int(p)) for p in pid[d2 <= radius * radius]]
    expect(len(pairs) > 1, "radius fixture has matches")
    expect(not K.check_radius(pairs, qx, qy, qids, px, py, pid, radius), "radius passes brute force")
    expect(fires(K.check_radius(pairs[1:], qx, qy, qids, px, py, pid, radius)),
           "radius fires on a dropped point")

    # upsert: the replay's own state passes, a lost delete or a wrong read fires
    base = pd.DataFrame({"pid": pid, "x": px, "y": py})
    replay = K.Replay(base)
    batch = pd.DataFrame(
        {
            "qtype": ["i", "i", "d", "d"],
            "pid": [1000, 1001, int(pid[0]), -1],
            "x": np.array([10.5, float(px[1]), px[0], 3.25], np.float32),
            "y": np.array([20.5, float(py[1]), py[0], 4.25], np.float32),
        }
    )
    replay.apply(batch)
    expect(len(replay.state) == 400, "replay: +1 insert, 1 no-op re-insert, 1 delete, 1 absent delete")
    expect(not K.check_content(replay.state.copy(), replay, "t"), "upsert passes the replay state")
    stale = pd.concat([replay.state, base.head(1)], ignore_index=True)
    expect(fires(K.check_content(stale, replay, "t")), "upsert fires on a lost delete")
    moved = replay.state.copy()
    moved.loc[5, "x"] = moved.loc[5, "x"] + 1
    expect(fires(K.check_content(moved, replay, "t")), "upsert fires on a changed row")
    box = (0.0, 0.0, 500_000.0, 500_000.0)
    expect(not K.check_read(replay.count_in(box), replay.count_in(box), 0), "range read passes")
    expect(fires(K.check_read(replay.count_in(box) + 1, replay.count_in(box), 0)),
           "range read fires on a wrong count")


def _tree_hash(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.endswith(".parquet") or f.endswith(".npy"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _shrink() -> None:
    from perfbench import ingest, serve

    ingest.N_IMAGES = 1_500
    serve.N_POINTS = 2_000


def test_seeds() -> None:
    from perfbench import ingest, serve

    _shrink()
    for name, mod in (("ingest", ingest), ("serve", serve)):
        a = mod.generate(101)["path"]
        ha = _tree_hash(a)
        shutil.rmtree(a)
        expect(_tree_hash(mod.generate(101)["path"]) == ha, f"{name}: same seed, same inputs")
        expect(_tree_hash(mod.generate(102)["path"]) != ha, f"{name}: other seed, other inputs")


def test_runs() -> None:
    from perfbench import run

    _shrink()
    for w in run.WORKLOADS:
        seen = []
        for seed in (101, 102):
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                rc = run.run_one(w, seed, False)
            last = json.loads(out.getvalue().strip().splitlines()[-1])
            expect(rc == 0 and last["correct"], f"{w}: tiny run with seed {seed} passes its checks")
            seen.append({k: v["unit"] for k, v in last["metrics"].items()})
        expect(seen[0] == seen[1], f"{w}: seeds 101 and 102 report the same metric names and units")


def main() -> int:
    C.prepare_env()
    test_checks()
    test_seeds()
    if "--quick" not in sys.argv:
        test_runs()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
