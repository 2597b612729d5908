"""Brute-force answers for the benchmark's ops, computed with numpy on the
driver outside the timed window.

Every ``check_*`` function takes the op's inputs (pandas frames), the
engine's collected result and a list of probe ids to verify, and returns a
list of mismatch messages (empty when the answer is right).  The arithmetic
mirrors the engine's expression trees operation by operation, so point, box,
tile and polygon answers must match bit for bit; segment distances, whose
expression order differs, are compared with a relative tolerance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: relative tolerance for segment-segment dist² (different evaluation order)
SEG_RTOL = 1e-9


def _ids_by_qid(result: pd.DataFrame, qid: int) -> set[int]:
    return set(result.loc[result["qid"] == qid, "id"].tolist())


def _compare_sets(op: str, qid: int, want: set, got: set) -> list[str]:
    if want == got:
        return []
    return [
        f"{op} qid={qid}: {len(got - want)} extra, {len(want - got)} missing "
        f"(want {len(want)})"
    ]


def check_points_in_boxes(points, qboxes, result, qids) -> list[str]:
    """``find_box_join``: closed box predicate."""
    x, y, ids = points["x"].to_numpy(), points["y"].to_numpy(), points["id"].to_numpy()
    errs = []
    for qid in qids:
        b = qboxes.loc[qboxes["qid"] == qid].iloc[0]
        m = (b.min_x <= x) & (x <= b.max_x) & (b.min_y <= y) & (y <= b.max_y)
        errs += _compare_sets("box", qid, set(ids[m].tolist()), _ids_by_qid(result, qid))
    return errs


def check_points_in_balls(points, circles, result, qids) -> list[str]:
    """``find_ball_join``: dist² ≤ r²."""
    x, y, ids = points["x"].to_numpy(), points["y"].to_numpy(), points["id"].to_numpy()
    errs = []
    for qid in qids:
        c = circles.loc[circles["qid"] == qid].iloc[0]
        d2 = (x - c.x) * (x - c.x) + (y - c.y) * (y - c.y)
        errs += _compare_sets("ball", qid, set(ids[d2 <= c.r * c.r].tolist()), _ids_by_qid(result, qid))
    return errs


def _check_topk(op, qid, d2_all, ids, k, got, rtol) -> list[str]:
    """Compare the k smallest dist² as a multiset, and check that every
    returned id really sits at its reported distance."""
    if len(got) != min(k, len(d2_all)):
        return [f"{op} qid={qid}: {len(got)} rows, want {min(k, len(d2_all))}"]
    want = np.sort(np.partition(d2_all, min(k, len(d2_all)) - 1)[:k])
    have = np.sort(got["dist2"].to_numpy())
    pos = pd.Series(np.arange(len(ids)), index=ids)
    try:
        own = d2_all[pos.loc[got["id"].to_numpy()].to_numpy()]
    except KeyError:
        return [f"{op} qid={qid}: unknown target id"]
    if rtol == 0:
        ok = np.array_equal(want, have) and np.array_equal(own, got["dist2"].to_numpy())
    else:
        ok = np.allclose(want, have, rtol=rtol, atol=1e-18) and np.allclose(
            own, got["dist2"].to_numpy(), rtol=rtol, atol=1e-18
        )
    return [] if ok else [f"{op} qid={qid}: dist² multiset differs"]


def check_knn(points, probes, k, result, qids) -> list[str]:
    """``knn_join``: the k nearest dist² per probe."""
    x, y, ids = points["x"].to_numpy(), points["y"].to_numpy(), points["id"].to_numpy()
    errs = []
    for qid in qids:
        p = probes.loc[probes["qid"] == qid].iloc[0]
        d2 = (x - p.x) * (x - p.x) + (y - p.y) * (y - p.y)
        got = result.loc[result["qid"] == qid, ["id", "dist2"]]
        errs += _check_topk("knn", qid, d2, ids, k, got, 0)
    return errs


def _d2_point_segment(px, py, x1, y1, x2, y2):
    dx, dy = x2 - x1, y2 - y1
    len2 = dx * dx + dy * dy
    with np.errstate(invalid="ignore", divide="ignore"):
        t = np.where(len2 > 0, np.clip(((px - x1) * dx + (py - y1) * dy) / len2, 0, 1), 0)
    cx, cy = x1 + t * dx, y1 + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


def d2_segment_segment(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """0 when the segments properly cross, else the least of the four
    endpoint-to-segment distances."""

    def orient(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    o1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    o2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    o3 = orient(bx1, by1, bx2, by2, ax1, ay1)
    o4 = orient(bx1, by1, bx2, by2, ax2, ay2)
    cross = (o1 * o2 < 0) & (o3 * o4 < 0)
    d = np.minimum.reduce([
        _d2_point_segment(ax1, ay1, bx1, by1, bx2, by2),
        _d2_point_segment(ax2, ay2, bx1, by1, bx2, by2),
        _d2_point_segment(bx1, by1, ax1, ay1, ax2, ay2),
        _d2_point_segment(bx2, by2, ax1, ay1, ax2, ay2),
    ])
    return np.where(cross, 0.0, d)


def check_segment_knn(segs, probes, k, result, qids) -> list[str]:
    """``segment_knn_join``: the k nearest segment dist² per probe segment."""
    s = {c: segs[c].to_numpy() for c in ("x1", "y1", "x2", "y2")}
    errs = []
    for qid in qids:
        p = probes.loc[probes["qid"] == qid].iloc[0]
        d2 = d2_segment_segment(p.x1, p.y1, p.x2, p.y2, s["x1"], s["y1"], s["x2"], s["y2"])
        got = result.loc[result["qid"] == qid, ["id", "dist2"]]
        errs += _check_topk("seg_knn", qid, d2, segs["id"].to_numpy(), k, got, SEG_RTOL)
    return errs


def check_boxes(kind, boxes, qboxes, result, qids) -> list[str]:
    """``find_subsets_join`` (closed), ``find_supersets_join`` (closed) and
    ``find_overlaps_join`` (strict) against every indexed box."""
    b = {c: boxes[c].to_numpy() for c in ("min_x", "max_x", "min_y", "max_y")}
    ids = boxes["id"].to_numpy()
    errs = []
    for qid in qids:
        q = qboxes.loc[qboxes["qid"] == qid].iloc[0]
        if kind == "subsets":
            m = (q.min_x <= b["min_x"]) & (b["max_x"] <= q.max_x) & (q.min_y <= b["min_y"]) & (b["max_y"] <= q.max_y)
        elif kind == "supersets":
            m = (b["min_x"] <= q.min_x) & (q.max_x <= b["max_x"]) & (b["min_y"] <= q.min_y) & (q.max_y <= b["max_y"])
        else:
            m = (q.min_x < b["max_x"]) & (b["min_x"] < q.max_x) & (q.min_y < b["max_y"]) & (b["min_y"] < q.max_y)
        errs += _compare_sets(kind, qid, set(ids[m].tolist()), _ids_by_qid(result, qid))
    return errs


def check_pip(points, edges, result, qids) -> list[str]:
    """``point_in_polygon_join``: even-odd crossing count per polygon."""
    px, py, ids = points["x"].to_numpy(), points["y"].to_numpy(), points["id"].to_numpy()
    errs = []
    for qid in qids:
        n_cross = np.zeros(len(px), dtype=np.int64)
        for e in edges.loc[edges["qid"] == qid].itertuples():
            straddles = (e.y1 > py) != (e.y2 > py)
            with np.errstate(invalid="ignore", divide="ignore"):
                xint = (e.x2 - e.x1) * (py - e.y1) / (e.y2 - e.y1) + e.x1
            n_cross += straddles & (px < xint)
        errs += _compare_sets("pip", qid, set(ids[n_cross % 2 == 1].tolist()), _ids_by_qid(result, qid))
    return errs


class Grid:
    """The engine's cell arithmetic (``GridSpec``), in numpy."""

    def __init__(self, min_x, min_y, max_x, max_y, resolution):
        self.min_x, self.min_y, self.res = min_x, min_y, resolution
        self.n = 1 << resolution
        self.cell_w = max(max_x - min_x, 1e-300) / self.n
        self.cell_h = max(max_y - min_y, 1e-300) / self.n

    def cx(self, x):
        return np.clip(np.floor((x - self.min_x) / self.cell_w), 0, self.n - 1).astype(np.int64)

    def cy(self, y):
        return np.clip(np.floor((y - self.min_y) / self.cell_h), 0, self.n - 1).astype(np.int64)


def check_raster(grid: Grid, points, feats, result, ids) -> list[str]:
    """``raster_vector_assignment``: covering-tile count and points in those
    tiles, per feature."""
    tx, ty = grid.cx(points["x"].to_numpy()), grid.cy(points["y"].to_numpy())
    got = result.set_index("id")
    errs = []
    for fid in ids:
        f = feats.loc[feats["id"] == fid].iloc[0]
        x0, x1 = grid.cx(np.array(f.min_x)), grid.cx(np.array(f.max_x))
        y0, y1 = grid.cy(np.array(f.min_y)), grid.cy(np.array(f.max_y))
        want = ((x1 - x0 + 1) * (y1 - y0 + 1), int(((tx >= x0) & (tx <= x1) & (ty >= y0) & (ty <= y1)).sum()))
        have = tuple(int(v) for v in got.loc[fid, ["n_tiles", "n_points"]]) if fid in got.index else None
        if have != want:
            errs.append(f"raster id={fid}: got {have}, want {want}")
    return errs


def check_pyramid(grid: Grid, points, result, min_zoom: int) -> list[str]:
    """``tile_pyramid``: exact point count per (zoom, tile) at every zoom."""
    tx, ty = grid.cx(points["x"].to_numpy()), grid.cy(points["y"].to_numpy())
    want = []
    for z in range(grid.res, min_zoom - 1, -1):
        s = grid.res - z
        k = pd.DataFrame({"tile_x": tx >> s, "tile_y": ty >> s}).value_counts()
        want.append(k.rename("n").reset_index().assign(zoom=z))
    w = pd.concat(want).astype("int64")
    cols = ["zoom", "tile_x", "tile_y", "n"]
    a = w[cols].sort_values(cols[:3]).to_numpy()
    b = result[cols].astype("int64").sort_values(cols[:3]).to_numpy()
    return [] if np.array_equal(a, b) else [f"pyramid: {len(b)} rows vs {len(a)} expected or counts differ"]


def dbscan_labels(points: pd.DataFrame, eps: float, min_pts: int) -> pd.DataFrame:
    """Textbook DBSCAN with the engine's determinism rules: a cluster is
    labelled by its smallest core id, a border point takes the smallest label
    among its core neighbours, noise is -1."""
    x, y, ids = points["x"].to_numpy(), points["y"].to_numpy(), points["id"].to_numpy()
    dx = x[:, None] - x[None, :]
    dy = y[:, None] - y[None, :]
    adj = dx * dx + dy * dy <= eps * eps
    np.fill_diagonal(adj, False)
    core = adj.sum(axis=1) + 1 >= min_pts
    label = np.full(len(ids), -1, dtype=np.int64)
    for start in np.flatnonzero(core):
        if label[start] != -1:
            continue
        comp, frontier = [start], [start]
        label[start] = 0
        while frontier:
            nxt = np.flatnonzero(adj[frontier].any(axis=0) & core & (label == -1))
            label[nxt] = 0
            comp += nxt.tolist()
            frontier = nxt.tolist()
        label[comp] = ids[comp].min()
    for i in np.flatnonzero(~core):
        nb = adj[i] & core
        if nb.any():
            label[i] = label[nb].min()
    return pd.DataFrame({"id": ids, "cluster": label, "is_core": core})


def check_dbscan(points, eps, min_pts, result) -> list[str]:
    want = dbscan_labels(points, eps, min_pts).sort_values("id").reset_index(drop=True)
    have = result[["id", "cluster", "is_core"]].sort_values("id").reset_index(drop=True)
    if len(want) != len(have) or not (want["id"].to_numpy() == have["id"].to_numpy()).all():
        return [f"dbscan: {len(have)} labelled ids, want {len(want)}"]
    bad = (want["cluster"].to_numpy() != have["cluster"].to_numpy()) | (
        want["is_core"].to_numpy() != have["is_core"].to_numpy().astype(bool)
    )
    return [f"dbscan: {int(bad.sum())} of {len(want)} labels differ"] if bad.any() else []


def hilbert_d(order: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Hilbert xy2d over int arrays, one bit level per step."""
    x, y = x.astype(np.int64).copy(), y.astype(np.int64).copy()
    d = np.zeros(len(x), dtype=np.int64)
    s = 1 << (order - 1)
    while s > 0:
        rx = (x & s) > 0
        ry = (y & s) > 0
        d += s * s * ((3 * rx.astype(np.int64)) ^ ry.astype(np.int64))
        flip = ~ry & rx
        x = np.where(flip, s - 1 - x, x)
        y = np.where(flip, s - 1 - y, y)
        x, y = np.where(~ry, y, x), np.where(~ry, x, y)
        s >>= 1
    return d


def check_ingest(grid: Grid, batch: pd.DataFrame, stored: pd.DataFrame) -> list[str]:
    """One ingest batch as read back from its checkpoint: every page once,
    extracted text length and parsed host as generated, coordinates on the
    map, and ``cell``/``hkey`` consistent with the frozen base grid."""
    if len(stored) != len(batch) or set(stored["id"]) != set(batch["id"]):
        return [f"ingest: stored {len(stored)} rows / ids differ from batch of {len(batch)}"]
    s = stored.set_index("id").loc[batch["id"].to_numpy()]
    errs = []
    if not (s["text_len"].to_numpy() == batch["expected"].str.len().to_numpy()).all():
        errs.append("ingest: extracted text length differs")
    if not (s["host"].to_numpy() == batch["host"].to_numpy()).all():
        errs.append("ingest: geocoded host differs")
    x, y = s["x"].to_numpy(), s["y"].to_numpy()
    if not ((np.abs(x) <= 180) & (np.abs(y) <= 90)).all():
        errs.append("ingest: coordinates off the map")
    cx, cy = grid.cx(x), grid.cy(y)
    if not (s["cell"].to_numpy() == cx * grid.n + cy).all():
        errs.append("ingest: cell differs from the grid")
    if not (s["hkey"].to_numpy() == hilbert_d(grid.res, cx, cy)).all():
        errs.append("ingest: hkey differs from the Hilbert index")
    return errs


def check_rows(op: str, want_ids: np.ndarray, got_ids: np.ndarray) -> list[str]:
    """Same id multiset (compaction keeps every row exactly once)."""
    if len(want_ids) == len(got_ids) and np.array_equal(np.sort(want_ids), np.sort(got_ids)):
        return []
    return [f"{op}: {len(got_ids)} rows, want {len(want_ids)} or ids differ"]
