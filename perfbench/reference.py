"""Independent numpy model of a timeseries response, for output checks.

Cube values come from the closed-form rules written out below in numpy,
not from the program; the program's rule strings are compared with the
SQL text each numpy form was written from, so a rule change fails loudly
instead of silently agreeing with itself. The pipeline (band planning,
zonal statistic, z-scores, smoothers, clipping, summaries) follows the
reference semantics documented in ``operators/windows.py`` and
``plans/intervals.py``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from datetime import date

import numpy as np

# (value SQL, null SQL, float32-rounded) -> numpy forms over int arrays b, r, c.
# Spark evaluates ``c * 1.1`` as an exact decimal, so the numpy forms use
# exact integer numerators divided once.
RULES = {
    "b * 100 + r * 10 + c * 1.1": lambda b, r, c: (b * 1000 + r * 100 + c * 11) / 10,
    "b * 100 + r * 10 + c": lambda b, r, c: (b * 100 + r * 10 + c).astype(float),
    "b * 10 + r + c * 0.1": lambda b, r, c: (b * 100 + r * 10 + c) / 10,
    "b * 0.1 + r * 10 + c * 1.1": lambda b, r, c: (b + r * 100 + c * 11) / 10,
}
NULLS = {
    "(r = 3 AND c = 4) OR (b = 3 AND r = 2 AND c = 4)":
        lambda b, r, c: ((r == 3) & (c == 4)) | ((b == 3) & (r == 2) & (c == 4)),
    "r = 3 AND c = 4": lambda b, r, c: (r == 3) & (c == 4),
    "r = 0 AND c < 3": lambda b, r, c: (r == 0) & (c < 3),
    "FALSE": lambda b, r, c: np.zeros(np.broadcast(b, r, c).shape, bool),
}


def cube_array(n_bands: int, rows: int, cols: int, rule: dict) -> np.ndarray:
    """(band, row, col) float64 array, NaN where the null rule holds."""
    b, r, c = np.meshgrid(
        np.arange(1, n_bands + 1), np.arange(rows), np.arange(cols), indexing="ij"
    )
    vals = RULES[rule["value"]](b, r, c)
    if rule["f32"]:
        vals = vals.astype(np.float32).astype(np.float64)
    vals[NULLS[rule["null"]](b, r, c)] = np.nan
    return vals


@dataclass(frozen=True)
class Calendar:
    """Band -> date for a dataset starting at ``origin`` (1-based bands)."""

    origin: date
    monthly: bool

    def iso(self, band: int) -> str:
        """ISO date at which ``band`` starts."""
        if self.monthly:
            m = self.origin.month - 1 + band - 1
            return date(self.origin.year + m // 12, m % 12 + 1, 1).isoformat()
        return date(self.origin.year + band - 1, 1, 1).isoformat()


def _nan(x: float | None) -> float:
    return math.nan if x is None else x


def zonal(cube: np.ndarray, cells: list[tuple[int, int]], bands: range, stat: str):
    """Per-band NaN-skipping mean/median over ``cells``; all-NaN -> None."""
    rows = [r for r, _ in cells]
    cols = [c for _, c in cells]
    out = {}
    for b in bands:
        v = cube[b - 1, rows, cols]
        v = v[~np.isnan(v)]
        out[b] = None if v.size == 0 else float(np.mean(v) if stat == "mean" else np.median(v))
    return out


def _moments(vals) -> tuple[float | None, float | None]:
    v = np.array([_nan(x) for x in vals], float)
    v = v[~np.isnan(v)]
    if v.size == 0:
        return None, None
    return float(v.mean()), float(v.std())


def summary(values: list[float | None]) -> dict:
    v = np.array([_nan(x) for x in values], float)
    if v.size == 0 or np.all(np.isnan(v)):
        return {"mean": None, "median": None, "stdev": None}
    return {
        "mean": float(np.nanmean(v)),
        "median": float(np.nanmedian(v)),
        "stdev": float(np.nanstd(v)),
    }


def _window(series: dict, bands: list[int], lo: int, hi: int):
    """Mean over offsets [lo, hi] of each band's position; partial windows
    and windows holding a null give None."""
    out = {}
    n = len(bands)
    for i, b in enumerate(bands):
        if i + lo < 0 or i + hi >= n:
            out[b] = None
            continue
        win = [series[bands[j]] for j in range(i + lo, i + hi + 1)]
        if any(x is None for x in win):
            out[b] = None
        else:
            out[b] = float(np.mean(win))
    return out


def _rolling_z(series: dict, bands: list[int], w: int) -> dict:
    out = {}
    for i, b in enumerate(bands):
        x = series[b]
        if i < w or x is None:
            out[b] = None
            continue
        mean, sigma = _moments(series[bands[j]] for j in range(i - w, i))
        out[b] = (x - mean) / sigma if sigma else None
    return out


def _clip(lo: int, hi: int, req: tuple[int, int]) -> tuple[int, int] | None:
    lo, hi = max(lo, req[0]), min(hi, req[1])
    return (lo, hi) if lo <= hi else None


def expected_v2(spec: dict, cube: np.ndarray, ucube: np.ndarray | None,
                cal: Calendar, n_bands: int) -> dict:
    """Expected JSON body (minus ``processing_time_ms``/``area_m2``).

    ``spec`` fields: cells, stat, req (band lo, hi), transform (None |
    ("rolling", w) | ("fixed", (ref lo, ref hi))), series (list of
    (name, None | ("centered"|"trailing", w))), uncertainty (bool)."""
    cells, stat, req = spec["cells"], spec["stat"], spec["req"]
    transform, series_specs = spec["transform"], spec["series"]

    t_adj = (-transform[1], 0) if transform and transform[0] == "rolling" else (0, 0)
    base = (req[0] + t_adj[0], req[1] + t_adj[1])
    lo, hi = base
    for _, sm in series_specs:
        a = _adjustment(sm)
        lo, hi = min(lo, base[0] + a[0]), max(hi, base[1] + a[1])
    ext = (max(lo, 1), min(hi, n_bands))
    bands = list(range(ext[0], ext[1] + 1))
    x = zonal(cube, cells, range(ext[0], ext[1] + 1), stat)

    post: tuple[int, int] | None = ext
    if transform is None:
        t = x
    elif transform[0] == "rolling":
        t = _rolling_z(x, bands, transform[1])
        post = (ext[0] + transform[1], ext[1]) if ext[0] + transform[1] <= ext[1] else None
    else:
        ref = transform[1]
        mean, sigma = _moments(zonal(cube, cells, range(ref[0], ref[1] + 1), stat).values())
        t = {b: (v - mean) / sigma if v is not None and sigma else None for b, v in x.items()}

    series_out, stats_out = [], []
    if transform is not None:
        stats_out.append({"name": "Original", **summary(
            [x[b] for b in bands if req[0] <= b <= req[1]])})
    for name, sm in series_specs:
        a = _adjustment(sm)
        if sm is None:
            s = t
        elif sm[0] == "centered":
            s = _window(t, bands, -(sm[1] // 2), sm[1] // 2)
        else:
            s = _window(t, bands, -sm[1], -1)
        out = None
        if post is not None and post[0] - a[0] <= post[1] - a[1]:
            out = _clip(post[0] - a[0], post[1] - a[1], req)
        values = [] if out is None else [s[b] for b in range(out[0], out[1] + 1)]
        tr = None if out is None else {"gte": cal.iso(out[0]), "lte": cal.iso(out[1])}
        series_out.append({"name": name, "time_range": tr, "values": values})
        stats_out.append({"name": name, **summary(values)})

    body = {
        "n_cells": len(cells),
        "series": series_out,
        "summary_stats": stats_out,
        "uncertainty": None,
    }
    if spec.get("uncertainty") and ucube is not None:
        u = zonal(ucube, cells, range(req[0], req[1] + 1), stat)
        body["uncertainty"] = {
            "name": "uncertainty",
            "time_range": {"gte": cal.iso(req[0]), "lte": cal.iso(req[1])},
            "values": [u[b] for b in range(req[0], req[1] + 1)],
        }
    return body


def _adjustment(sm) -> tuple[int, int]:
    if sm is None:
        return (0, 0)
    if sm[0] == "centered":
        return (-(sm[1] // 2), sm[1] // 2)
    return (-sm[1], 0)


def close(a, b, rel: float = 1e-7, abs_: float = 1e-7) -> bool:
    """Structural equality with a float tolerance (Spark and numpy sum in
    different orders)."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(close(a[k], b[k], rel, abs_) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(close(x, y, rel, abs_) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)
    return a == b
