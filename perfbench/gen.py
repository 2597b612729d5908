"""Seeded inputs for the benchmark workloads.

Every table and probe batch is a pure function of ``(seed, stream, sizes)``:
each stream draws from its own ``numpy`` generator keyed by the seed and the
stream's name, so adding a stream never shifts another one's numbers.  The
engine only ever receives the generated tables; nothing here imports
``locus_spark``.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

N_HOSTS = 1000
HOT_HOSTS = 5
#: share of pages on the hot hosts (the skew the geocoder turns into hot cells)
HOT_FRACTION = 0.5
LANGS = np.array(["en", "de", "fr", "es", "ru"])
WORDS = np.array(
    (
        "data spark shuffle join scan filter agg window tile cell point box "
        "segment page host crawl text token index query batch row column value"
    ).split()
)
#: fixed HTML around each page's body; the extractor must drop the script
#: and unescape the entity, so the expected text is ``body + TAIL_TEXT``
HTML_HEAD = "<html><head><script>var s = {0};</script></head><body><p>"
HTML_TAIL = "</p><p>a &amp; b</p></body></html>"
TAIL_TEXT = " a & b"


def stream(seed: int, name: str) -> np.random.Generator:
    """Independent generator for one named input stream."""
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def hot_hosts(seed: int) -> np.ndarray:
    return stream(seed, "hosts").choice(N_HOSTS, HOT_HOSTS, replace=False)


def pages(seed: int, name: str, first_id: int, n: int) -> pd.DataFrame:
    """``n`` pages with ids ``first_id .. first_id + n - 1``.

    Columns: ``id, url, html (bytes), lang`` plus ``expected`` (the text the
    extractor must return) and ``host`` (what the geocoder must parse); the
    last two are for the checker and are dropped before the engine sees the
    table.  About half of the rows sit on the seed's five hot hosts."""
    rng = stream(seed, name)
    hot = hot_hosts(seed)
    on_hot = rng.random(n) < HOT_FRACTION
    host = np.where(
        on_hot, hot[rng.integers(0, HOT_HOSTS, n)], rng.integers(0, N_HOSTS, n)
    )
    path = rng.integers(0, 2**62, n)
    n_words = rng.integers(5, 40, n)
    picks = WORDS[rng.integers(0, len(WORDS), (n, 40))]
    body = [" ".join(row[:k]) for row, k in zip(picks, n_words)]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    html = [
        (HTML_HEAD.format(i) + b + HTML_TAIL).encode() for i, b in zip(ids, body)
    ]
    hosts = [f"host{h}.example" for h in host]
    return pd.DataFrame(
        {
            "id": ids,
            "url": [f"https://{h}/{p:016x}" for h, p in zip(hosts, path)],
            "html": html,
            "lang": LANGS[rng.integers(0, len(LANGS), n)],
            "expected": [b + TAIL_TEXT for b in body],
            "host": hosts,
        }
    )


def _centers(rng: np.random.Generator, n: int, hot_xy: np.ndarray, sigma: float):
    """Half of the centers around ``hot_xy`` (normal, ``sigma`` degrees),
    half uniform over the world."""
    near = rng.random(n) < 0.5
    k = rng.integers(0, len(hot_xy), n)
    cx = np.where(near, hot_xy[k, 0] + rng.normal(0, sigma, n), rng.uniform(-175, 175, n))
    cy = np.where(near, hot_xy[k, 1] + rng.normal(0, sigma, n), rng.uniform(-85, 85, n))
    return np.clip(cx, -179.0, 179.0), np.clip(cy, -89.0, 89.0)


def hot_centers(seed: int) -> np.ndarray:
    return stream(seed, "hot_centers").uniform([-150, -70], [150, 70], (HOT_HOSTS, 2))


def boxes(seed: int, n: int) -> pd.DataFrame:
    """Indexed boxes ``(id, min_x, max_x, min_y, max_y)``, clustered like
    the pages (half near five hot centers)."""
    rng = stream(seed, "boxes")
    cx, cy = _centers(rng, n, hot_centers(seed), 3.0)
    hw = np.clip(np.exp(rng.normal(np.log(0.3), 0.7, n)), 0.01, 3.0)
    hh = np.clip(np.exp(rng.normal(np.log(0.3), 0.7, n)), 0.01, 3.0)
    return pd.DataFrame(
        {"id": np.arange(n, dtype=np.int64),
         "min_x": cx - hw, "max_x": cx + hw, "min_y": cy - hh, "max_y": cy + hh}
    )


def segments(seed: int, n: int) -> pd.DataFrame:
    """Indexed segments ``(id, x1, y1, x2, y2)``, clustered like the boxes."""
    rng = stream(seed, "segments")
    cx, cy = _centers(rng, n, hot_centers(seed), 3.0)
    half = np.clip(np.exp(rng.normal(np.log(0.3), 0.6, n)), 0.01, 3.0)
    ang = rng.uniform(0, np.pi, n)
    dx, dy = half * np.cos(ang), half * np.sin(ang)
    return pd.DataFrame(
        {"id": np.arange(n, dtype=np.int64),
         "x1": cx - dx, "y1": cy - dy, "x2": cx + dx, "y2": cy + dy}
    )


# -- probe batches (one stream per op, so the i-th op of a run is fixed) -----


def near_points(rng: np.random.Generator, xy: np.ndarray, n: int, jitter: float):
    """``n`` positions: half near random rows of ``xy``, half uniform."""
    near = rng.random(n) < 0.5
    pick = xy[rng.integers(0, len(xy), n)]
    x = np.where(near, pick[:, 0] + rng.normal(0, jitter, n), rng.uniform(-180, 180, n))
    y = np.where(near, pick[:, 1] + rng.normal(0, jitter, n), rng.uniform(-90, 90, n))
    return x, y


def query_boxes(rng, xy, n, half_lo, half_hi) -> pd.DataFrame:
    x, y = near_points(rng, xy, n, 0.5)
    hw = rng.uniform(half_lo, half_hi, n)
    hh = rng.uniform(half_lo, half_hi, n)
    return pd.DataFrame(
        {"qid": np.arange(n, dtype=np.int64),
         "min_x": x - hw, "max_x": x + hw, "min_y": y - hh, "max_y": y + hh}
    )


def query_circles(rng, xy, n, r_lo, r_hi) -> pd.DataFrame:
    x, y = near_points(rng, xy, n, 0.5)
    return pd.DataFrame(
        {"qid": np.arange(n, dtype=np.int64), "x": x, "y": y,
         "r": rng.uniform(r_lo, r_hi, n)}
    )


def query_points(rng, xy, n) -> pd.DataFrame:
    x, y = near_points(rng, xy, n, 0.5)
    return pd.DataFrame({"qid": np.arange(n, dtype=np.int64), "x": x, "y": y})


def query_segments(rng, xy, n) -> pd.DataFrame:
    x, y = near_points(rng, xy, n, 0.5)
    half = rng.uniform(0.05, 1.0, n)
    ang = rng.uniform(0, np.pi, n)
    dx, dy = half * np.cos(ang), half * np.sin(ang)
    return pd.DataFrame(
        {"qid": np.arange(n, dtype=np.int64),
         "x1": x - dx, "y1": y - dy, "x2": x + dx, "y2": y + dy}
    )


def polygons(rng, xy, n) -> pd.DataFrame:
    """``n`` star-convex polygons as edge rows ``(qid, x1, y1, x2, y2)``,
    centered on random rows of ``xy`` so they hold points."""
    rows = []
    centers = xy[rng.integers(0, len(xy), n)]
    for qid, (cx, cy) in enumerate(centers):
        k = int(rng.integers(5, 12))
        rx, ry = rng.uniform(1.0, 6.0, 2)
        ang = 2 * np.pi * np.arange(k) / k + rng.uniform(0, 0.4, k)
        rr = rng.uniform(0.5, 1.0, k)
        vx, vy = cx + rx * rr * np.cos(ang), cy + ry * rr * np.sin(ang)
        for j in range(k):
            rows.append((qid, vx[j], vy[j], vx[(j + 1) % k], vy[(j + 1) % k]))
    return pd.DataFrame(rows, columns=["qid", "x1", "y1", "x2", "y2"]).astype(
        {"qid": np.int64}
    )
