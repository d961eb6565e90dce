"""Independent numpy answers for the output checks.

The pages table derives every page location from ``doc_id`` with the
integer arithmetic in ``geozero_spark.sources.pages`` (centi-degrees,
always even) and every zone from its nation key (diamond, odd centre
and radius). These functions restate that arithmetic in numpy, so a
check does not depend on the engine under test.
"""

from __future__ import annotations

import numpy as np

from . import inputs


def page_xy(doc_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Centi-degree (x, y) of each page's ``loc:POINT``."""
    d = doc_id.astype(np.int64)
    hot = d % 5 == 0
    r15 = d % 15
    hx = np.where(r15 == 0, 1300, np.where(r15 == 5, -9200, 14300))
    hy = np.where(r15 == 0, 6700, np.where(r15 == 5, 200, -6300))
    x = np.where(hot, hx + 2 * ((d * 31) % 50),
                 2 * ((d * 7919) % 18000) - 18000)
    y = np.where(hot, hy + 2 * ((d * 17) % 50),
                 2 * ((d * 104729) % 9000) - 9000)
    return x, y


def zones() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Centre x, centre y and L1 radius (centi-degrees) of each zone."""
    k = np.arange(inputs.N_NATIONS, dtype=np.int64)
    return (((k * 1543) % 340 - 170) * 100 + 51,
            ((k * 787) % 160 - 80) * 100 + 51,
            601 + (k % 7) * 100)


def in_bbox(x, y, bbox) -> np.ndarray:
    """Mask of centi-degree points inside a lon/lat degree bbox
    (closed, as bbox_select's exact refine)."""
    xmin, ymin, xmax, ymax = bbox
    lon, lat = x / 100.0, y / 100.0
    return (lon >= xmin) & (lon <= xmax) & (lat >= ymin) & (lat <= ymax)


def pip_pairs(x: np.ndarray, y: np.ndarray) -> int:
    """Number of (point, zone) containment pairs. Even points never
    sit on an odd-radius diamond edge, so the strict test is exact."""
    cx, cy, r = zones()
    d = np.abs(x[:, None] - cx[None, :]) + np.abs(y[:, None] - cy[None, :])
    return int((d < r[None, :]).sum())


def cosine_top_ids(q: np.ndarray, t: np.ndarray, t_ids: np.ndarray,
                   k: int, q_ids: np.ndarray | None = None) -> list[set]:
    """Top-k target ids by cosine (float64) per query row, excluding
    the query's own id when ``q_ids`` is given."""
    q = q.astype(np.float64)
    t = t.astype(np.float64)
    cos = (q @ t.T) / (np.linalg.norm(q, axis=1)[:, None]
                       * np.linalg.norm(t, axis=1)[None, :])
    if q_ids is not None:
        cos[q_ids[:, None] == t_ids[None, :]] = -np.inf
    top = np.argsort(-cos, axis=1, kind="stable")[:, :k]
    return [set(t_ids[row].tolist()) for row in top]
