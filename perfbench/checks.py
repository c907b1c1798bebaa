"""Output checks, run outside every timed window. Each returns a list of
error strings; an empty list means the output matched its oracle.

The oracles are independent of the engine's code paths: the package's
numpy golden model (``oracle.quadrant_search``, ``oracle.ray_cast_pip``),
numpy brute force, closed-form tile arithmetic and a pandas replay of the
mutation stream.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

_LOCATE_SAMPLE = 200


def check_locate(rows: list, bnds: np.ndarray, quadrant_search, seed: int = 0) -> list[str]:
    """rows: (qid, x, y, found_cell_id); bnds: (n_cells, 5) id + bbox.
    Checks a seeded sample of at most 200 queries against the oracle."""
    if not rows:
        return []
    rows = sorted(rows, key=lambda r: r[0])
    rng = np.random.default_rng([seed, len(rows)])
    take = rng.choice(len(rows), min(_LOCATE_SAMPLE, len(rows)), replace=False)
    sub = [rows[i] for i in sorted(take)]
    qx = np.array([r[1] for r in sub], dtype=np.float32)
    qy = np.array([r[2] for r in sub], dtype=np.float32)
    got = np.array([r[3] for r in sub], dtype=np.int64)
    want = quadrant_search(qx, qy, bnds)
    bad = np.flatnonzero(got != want)
    if bad.size:
        i = int(bad[0])
        return [
            f"locate: {bad.size}/{len(sub)} sampled queries differ from the oracle "
            f"(qid {sub[i][0]}: got {got[i]}, want {want[i]})"
        ]
    return []


def check_ingest(r: dict, inputs: dict, bnds: np.ndarray, quadrant_search) -> list[str]:
    errs = []
    if r["n_images"] != inputs["n_images"]:
        errs.append(f"ingest: root count {r['n_images']} != {inputs['n_images']} images")
    written = r["manifest"]["metrics"]["rows_written"]
    if written != inputs["slice_rows"]:
        errs.append(f"ingest: slice_rows {written} != expected {inputs['slice_rows']}")
    if r["read_rows"] != inputs["slice_rows"]:
        errs.append(f"ingest: read-back rows {r['read_rows']} != {inputs['slice_rows']}")
    if len(r["found"]) != inputs["n_queries"]:
        errs.append(f"ingest: {len(r['found'])} search results for {inputs['n_queries']} queries")
    errs += check_locate(r["found"], bnds, quadrant_search)
    return errs


def knn_brute(qx, qy, px, py, k: int) -> list[np.ndarray]:
    """Exact k smallest float32 squared distances per query."""
    out = []
    for x, y in zip(qx, qy):
        dx = px - np.float32(x)
        dy = py - np.float32(y)
        d2 = dx * dx + dy * dy
        idx = np.argpartition(d2, k)[:k] if d2.size > k else np.arange(d2.size)
        out.append(np.sort(d2[idx]).astype(np.float64))
    return out


def check_knn(rows: list, qx, qy, qids, px, py, pid, k: int, guarantee_d2: float) -> list[str]:
    """rows: (qid, pid, dist2, rank, exact) for the checked queries.

    Per query: at most k rows of distinct, real points, each carrying its
    point's float32 squared distance, ranked 1..n by distance. Every point
    within the ring guarantee (``guarantee_d2``) is a candidate, so a query
    holds at least min(k, points within it) rows. A row flagged exact
    carries the brute-force distance of its rank; any row is no nearer than
    the brute-force distance of its rank."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r[0]), []).append(r)
    order = np.argsort(pid)
    spid = np.asarray(pid)[order]
    want = knn_brute(qx, qy, px, py, k)
    for q, x, y, w in zip(qids, qx, qy, want):
        got = sorted(by_q.get(int(q), []), key=lambda r: r[3])
        dx = px - np.float32(x)
        dy = py - np.float32(y)
        need = min(k, int(np.count_nonzero(dx * dx + dy * dy <= guarantee_d2)))
        if not need <= len(got) <= k:
            return [f"knn: query {int(q)} has {len(got)} rows, want {need} to {k}"]
        if [r[3] for r in got] != list(range(1, len(got) + 1)):
            return [f"knn: query {int(q)} ranks {[r[3] for r in got]}"]
        p = np.array([r[1] for r in got], dtype=np.int64)
        at = np.minimum(np.searchsorted(spid, p), len(spid) - 1)
        if len(set(p.tolist())) != len(p) or not (spid[at] == p).all():
            return [f"knn: query {int(q)} names unknown or repeated points {p.tolist()}"]
        i = order[at]
        real = (dx[i] * dx[i] + dy[i] * dy[i]).astype(np.float64)
        d = np.array([r[2] for r in got], dtype=np.float64)
        if not np.allclose(d, real, rtol=1e-6, atol=1e-3):
            return [f"knn: query {int(q)} distances {d[:3]}... != its points' {real[:3]}..."]
        lo = w[: len(d)]
        if (d < lo - (1e-3 + 1e-6 * lo)).any():
            return [f"knn: query {int(q)} distances {d[:3]}... below brute force {lo[:3]}..."]
        ex = np.array([bool(r[4]) for r in got])
        if not np.allclose(d[ex], lo[ex], rtol=1e-6, atol=1e-3):
            return [f"knn: query {int(q)} exact distances {d[ex][:3]}... != brute force {lo[ex][:3]}..."]
    return []


def check_pip(rows: list, qx, qy, qids, polys, ray_cast_pip) -> list[str]:
    """rows: (qid, poly_id) pairs for the checked queries."""
    got: dict[int, set] = {}
    for q, p in rows:
        got.setdefault(int(q), set()).add(int(p))
    want: dict[int, set] = {int(q): set() for q in qids}
    for pid, poly in polys:
        inside = ray_cast_pip(qx, qy, poly)
        for q in np.asarray(qids)[inside]:
            want[int(q)].add(int(pid))
    for q in want:
        if got.get(q, set()) != want[q]:
            return [f"pip: query {q} in polygons {sorted(got.get(q, set()))}, want {sorted(want[q])}"]
    return []


def check_tiles(rows: list, qx, qy, qids, zoom: int) -> list[str]:
    """rows: (qid, tile_x, tile_y). Tile (tx, ty) of a point: floor of the
    coordinate over the tile width, clipped to the grid, y flipped."""
    n = 1 << zoom
    got = {int(r[0]): (int(r[1]), int(r[2])) for r in rows}
    for q, x, y in zip(qids, qx, qy):
        tx = min(max(int(np.floor(float(x) * n / 1_000_000)), 0), n - 1)
        ty = n - 1 - min(max(int(np.floor(float(y) * n / 1_000_000)), 0), n - 1)
        if got.get(int(q)) != (tx, ty):
            return [f"tiles: query {int(q)} got {got.get(int(q))}, want {(tx, ty)}"]
    return []


def check_radius(rows: list, qx, qy, qids, px, py, pid, radius: float) -> list[str]:
    """rows: (qid, pid) pairs for the checked queries."""
    got: dict[int, set] = {}
    for q, p in rows:
        got.setdefault(int(q), set()).add(int(p))
    r2 = float(radius) * float(radius)
    pxd, pyd = px.astype(np.float64), py.astype(np.float64)
    for q, x, y in zip(qids, qx, qy):
        d2 = (pxd - float(x)) ** 2 + (pyd - float(y)) ** 2
        want = set(pid[d2 <= r2].tolist())
        if got.get(int(q), set()) != want:
            return [f"radius: query {int(q)} got {len(got.get(int(q), set()))} points, want {len(want)}"]
    return []


# -- upsert -----------------------------------------------------------------


class Replay:
    """Sequential pandas model of the point table: per batch, insert the
    rows whose (x, y) key is absent, then delete every row whose key is in
    the batch's delete set."""

    def __init__(self, base: pd.DataFrame):
        self.state = base[["pid", "x", "y"]].reset_index(drop=True)

    @staticmethod
    def _keys(df: pd.DataFrame) -> pd.Series:
        # coordinates are multiples of 0.25 in [0, 1e6): pack (4x, 4y) exactly
        x4 = np.rint(df["x"].to_numpy(np.float64) * 4).astype(np.int64)
        y4 = np.rint(df["y"].to_numpy(np.float64) * 4).astype(np.int64)
        return pd.Series(x4 * 8_000_000 + y4, index=df.index)

    def apply(self, batch: pd.DataFrame) -> None:
        live = set(self._keys(self.state).tolist())
        ins = batch[batch["qtype"] == "i"]
        ins = ins[~self._keys(ins).isin(live)]
        state = pd.concat([self.state, ins[["pid", "x", "y"]]], ignore_index=True)
        dels = set(self._keys(batch[batch["qtype"] == "d"]).tolist())
        self.state = state[~self._keys(state).isin(dels)].reset_index(drop=True)

    def count_in(self, box) -> int:
        x0, y0, x1, y1 = box
        s = self.state
        return int(((s["x"] >= x0) & (s["x"] <= x1) & (s["y"] >= y0) & (s["y"] <= y1)).sum())


def content_hash(df: pd.DataFrame) -> str:
    s = df[["pid", "x", "y"]].astype({"pid": np.int64, "x": np.float32, "y": np.float32})
    s = s.sort_values(["pid", "x", "y"], ignore_index=True)
    h = hashlib.sha256()
    for c in ("pid", "x", "y"):
        h.update(np.ascontiguousarray(s[c].to_numpy()).tobytes())
    return h.hexdigest()


def check_content(table: pd.DataFrame, replay: Replay, when: str) -> list[str]:
    """The table's whole content against the replay: row count and hash."""
    if len(table) != len(replay.state):
        return [f"upsert: {when} holds {len(table)} rows, replay {len(replay.state)}"]
    if content_hash(table) != content_hash(replay.state):
        return [f"upsert: {when} content hash differs from the pandas replay"]
    return []


def check_read(count: int, want: int, batch: int) -> list[str]:
    if count != want:
        return [f"upsert: range read after batch {batch} saw {count} rows, replay has {want}"]
    return []
