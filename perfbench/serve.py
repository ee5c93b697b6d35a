"""The serving workload ``serve_prod``: seeded request passes, a
closed-loop client, output checks and the traced per-layer probes.

The service is ``LakeTimeseriesService`` on a FAIR-scheduled session. Its
Parquet lake is written by the program's own ``ingest_to_parquet`` and
holds the analytic dev cubes (annual 5x5x5, monthly 5x5x60, with the
uncertainty companion) plus one lbda_v2-shaped cube (annual, 2017 bands,
0.5 degree cells). Requests on the lbda cube exercise partition pruning,
the exact-median shuffle, windows over 2017-band series and the batch path;
requests on the dev cubes are tiny, so their time is the fixed
per-request cost: validation, planning, job submission, collect and
assembly.

One pass is one request of every type, in a fixed order, with seeded
parameters; the seed moves points, polygons and time ranges but not the
kind of work a type does. One client sends them, each when the previous
one has returned: with two clients sharing the queue, a request's latency
swung two- to three-fold with whatever happened to overlap it, which left
the run-to-run spread far above any usable regression bound.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import time
from collections import Counter
from dataclasses import dataclass
from datetime import date

from perfbench import reference as R
from perfbench.result import Result, median, percentile
from perfbench.trace import Tracer, ledger_for, spark_metrics

# lbda_v2 (2017 annual bands, 0.5 degree cells) on a grid reduced from the
# reference's 50 x 115 so that the ingest and enough measured passes fit a
# run; the band depth, and so the series length windows run over, is kept,
# and a polygon request still covers ~700 cells.
PROD_BANDS = 2017
PROD_GRID = (28, 30)
POLY_SIZE = (26, 27)  # rows x cols of a polygon's bounding box
TINY_PROD = (40, 6, 8)  # bands, rows, cols for the self-test
PROD_RULE = {"value": "b * 0.1 + r * 10 + c * 1.1", "f32": True, "null": "r = 0 AND c < 3"}
PROD_DATASET, PROD_VARIABLE = "lbda_v2", "pdsi"
# points per execute_many call: 20 took ~8 s, half of every pass, and with it
# a run no longer fitted the time the benchmark's schedule allows
BATCH = 10

# one pass, in order: the lbda types, then those served from the dev cubes
REQUEST_TYPES = ("batch10", "poly_median", "poly_mean", "smooth_zscore", "point",
                 "fixed_zscore_ref", "uncertainty", "v1", "invalid")

# expected rules of the dev slices: (value, null, f32)
DEV_SLICES = {
    ("annual_5x5x5_dataset", "float32_variable"):
        ("b * 100 + r * 10 + c * 1.1", "(r = 3 AND c = 4) OR (b = 3 AND r = 2 AND c = 4)", True),
    ("annual_5x5x5_dataset", "uint16_variable"):
        ("b * 100 + r * 10 + c", "(r = 3 AND c = 4) OR (b = 3 AND r = 2 AND c = 4)", False),
    ("monthly_5x5x60_dataset", "float32_variable"):
        ("b * 100 + r * 10 + c * 1.1", "r = 3 AND c = 4", True),
    ("monthly_5x5x60_dataset", "int16_variable"): ("b * 100 + r * 10 + c", "FALSE", False),
    ("annual_5x5x5_dataset", "float32_variable_uncertainty"):
        ("b * 10 + r + c * 0.1", "FALSE", True),
}
DEV_SERIES = [k for k in DEV_SLICES if not k[1].endswith("_uncertainty")]


@dataclass
class Dataset:
    meta: object
    cal: R.Calendar
    cubes: dict  # variable -> numpy (band, row, col)

    @property
    def n_bands(self) -> int:
        return self.meta.n_bands()


@dataclass
class Request:
    kind: str
    payload: object
    expect: object  # list of expected bodies, or 422
    members: int = 1
    spec: dict | None = None
    status: int = 0
    body: object = None
    ms: float = 0.0
    error: str = ""


# --- request generation -------------------------------------------------------


def _polygon(rng: random.Random, meta, rows: int, cols: int) -> dict:
    """A jittered polygon whose bounding box spans ~rows x cols cells."""
    px = meta.pixel_deg
    r0 = rng.randint(0, meta.grid_rows - rows)
    c0 = rng.randint(0, meta.grid_cols - cols)
    lon0 = meta.origin_lon + (c0 + rng.uniform(0.1, 0.4)) * px
    lat0 = meta.origin_lat - (r0 + rng.uniform(0.1, 0.4)) * px
    lon1 = meta.origin_lon + (c0 + cols - rng.uniform(0.1, 0.4)) * px
    lat1 = meta.origin_lat - (r0 + rows - rng.uniform(0.1, 0.4)) * px
    mid = (lon0 + lon1) / 2 + rng.uniform(-0.3, 0.3) * px
    ring = [[lon0, lat0], [mid, lat0 + 0.2 * px * rng.random()], [lon1, lat0],
            [lon1, lat1], [lon0, lat1], [lon0, lat0]]
    return {"type": "Polygon", "coordinates": [ring]}


def _point(rng: random.Random, meta) -> tuple[dict, tuple[int, int]]:
    r, c = rng.randrange(meta.grid_rows), rng.randrange(meta.grid_cols)
    lon = meta.origin_lon + (c + rng.uniform(0.1, 0.9)) * meta.pixel_deg
    lat = meta.origin_lat - (r + rng.uniform(0.1, 0.9)) * meta.pixel_deg
    return {"type": "Point", "coordinates": [lon, lat]}, (r, c)


VALID_POINT = {"dataset_id": "annual_5x5x5_dataset", "variable_id": "float32_variable",
               "selected_area": {"type": "Point", "coordinates": [-120.5, 42.5]}}

# each a payload the API must refuse with 422, merged over VALID_POINT
INVALID = [
    {"dataset_id": "no_such_dataset"},
    {"variable_id": "bad id!"},
    {"selected_area": {"type": "Point", "coordinates": [10.0, 10.0]}},
    {"time_range": {"gte": "0002-01-01", "lte": "0009-01-01"}},
    {"zonal_statistic": "max"},
    {"requested_series_options": [{"name": "c", "smoother": {
        "type": "MovingAverageSmoother", "method": "centered", "width": 4}}]},
    {"transforms": [{"type": "NoSmoother"}], "requested_series_options": []},
    {"max_processing_time": 10 ** 6},
]

# Payloads the API must refuse with 422 but that the program answers
# otherwise: a reversed time range (gte after lte) escapes
# ``handle_timeseries_v2`` as a ValueError, a 500. A benchmark run must not
# fail, so the measured workload does not draw them; ``--known-defects``
# sends each once in the cold pass, and the self-test does so on every run,
# so the defect keeps failing there until the program is fixed.
KNOWN_DEFECTS = [
    {"time_range": {"gte": "0004-01-01", "lte": "0002-01-01"}},
]


class Deck:
    """Generates passes of requests; expected bodies are computed on demand
    from the numpy model, outside any timed region."""

    def __init__(self, datasets: dict[str, Dataset], rng: random.Random,
                 known_defects: bool = False):
        from skope_api_spark.geometry import Grid, rasterize_all_touched

        self.datasets, self.rng = datasets, rng
        # alternated, not drawn, so that every run's passes hold the same mix
        self._uncertainty_stat = itertools.cycle(("mean", "median"))
        self._defects = list(KNOWN_DEFECTS) if known_defects else []
        self._rasterize, self._Grid = rasterize_all_touched, Grid

    def _area(self, meta, polygon: bool, size: tuple[int, int]):
        if not polygon:
            area, cell = _point(self.rng, meta)
            return area, [cell]
        area = _polygon(self.rng, meta, *size)
        grid = self._Grid(meta.origin_lon, meta.origin_lat, meta.pixel_deg,
                          meta.grid_rows, meta.grid_cols)
        return area, self._rasterize(grid, area)

    def _v2(self, kind: str, ds_id: str, var: str, *, polygon: bool, size=(3, 3),
            stat: str = "mean", length: int = 0, full_span: bool = False,
            transform=None, series=(("original", None),), uncertainty=False) -> Request:
        ds = self.datasets[ds_id]
        area, cells = self._area(ds.meta, polygon, size)
        payload = {"dataset_id": ds_id, "variable_id": var, "selected_area": area,
                   "zonal_statistic": stat}
        if full_span:
            req = (1, ds.n_bands)
        else:
            # ``length`` bands if given, so that every seed does as much work
            lo = self.rng.randint(1, ds.n_bands - max(length, 1) + 1)
            req = (lo, lo + length - 1 if length else self.rng.randint(lo, ds.n_bands))
            payload["time_range"] = {"gte": ds.cal.iso(req[0]), "lte": ds.cal.iso(req[1])}
        if transform is not None:
            kind_t, arg = transform
            if kind_t == "rolling":
                payload["transform"] = {"type": "ZScoreMovingInterval", "width": arg}
            else:
                payload["transform"] = {"type": "ZScoreFixedInterval", "time_range": {
                    "gte": ds.cal.iso(arg[0]), "lte": ds.cal.iso(arg[1])}}
        payload["requested_series_options"] = [
            {"name": name, "smoother": {"type": "NoSmoother"} if sm is None else
             {"type": "MovingAverageSmoother", "method": sm[0], "width": sm[1]}}
            for name, sm in series
        ]
        if uncertainty:
            payload["include_uncertainty"] = True
        spec = {"cells": cells, "stat": stat, "req": req, "transform": transform,
                "series": list(series), "uncertainty": uncertainty,
                "dataset": ds_id, "variable": var, "area": area}
        return Request(kind, payload, None, spec=spec)

    def make(self, kind: str) -> Request:
        rng = self.rng
        ds = self.datasets[PROD_DATASET]
        poly = (min(POLY_SIZE[0], ds.meta.grid_rows - 1), min(POLY_SIZE[1], ds.meta.grid_cols - 1))
        if kind == "point":
            return self._v2(kind, PROD_DATASET, PROD_VARIABLE, polygon=False, full_span=True)
        if kind in ("poly_mean", "poly_median"):
            return self._v2(kind, PROD_DATASET, PROD_VARIABLE, polygon=True, size=poly,
                            stat=kind.split("_")[1], length=ds.n_bands * 3 // 4)
        if kind == "smooth_zscore":
            # trailing MA(21) over a rolling z(50); self-test cubes are short
            z, ma = (50, 21) if ds.n_bands > 200 else (5, 3)
            return self._v2(kind, PROD_DATASET, PROD_VARIABLE, polygon=False, full_span=True,
                            transform=("rolling", z),
                            series=(("original", None), ("trailing", ("trailing", ma)),
                                    ("centered", ("centered", 2 * ma + 1))))
        if kind == "batch10":
            members = [self._v2("point", PROD_DATASET, PROD_VARIABLE, polygon=False,
                                full_span=True) for _ in range(BATCH)]
            return Request(kind, [m.payload for m in members], None, members=BATCH,
                           spec={"batch": [m.spec for m in members]})
        ds_id, var = rng.choice(DEV_SERIES)
        if kind == "fixed_zscore_ref":
            n = self.datasets[ds_id].n_bands
            lo = rng.randint(1, n - 1)
            return self._v2(kind, ds_id, var, polygon=True, size=(2, 2),
                            transform=("fixed", (lo, rng.randint(lo + 1, n))))
        if kind == "uncertainty":
            return self._v2(kind, "annual_5x5x5_dataset", "float32_variable",
                            polygon=True, size=(3, 3),
                            stat=next(self._uncertainty_stat), uncertainty=True)
        if kind == "v1":
            rq = self._v2(kind, ds_id, var, polygon=False)
            cal = self.datasets[ds_id].cal
            # v1 dates: "Y" for annual, "Y-MM" for monthly
            fmt = (lambda b: cal.iso(b)[:7]) if cal.monthly else (
                lambda b: str(int(cal.iso(b)[:4])))
            lo, hi = rq.spec["req"]
            rq.payload = {"datasetId": ds_id, "variableName": var,
                          "boundaryGeometry": rq.spec["area"], "start": fmt(lo), "end": fmt(hi)}
            return rq
        if kind == "invalid":
            return Request(kind, {**VALID_POINT, **rng.choice(INVALID)}, 422)
        raise ValueError(kind)

    def next_pass(self) -> list[Request]:
        """One request of every type; the first pass also carries the
        known-defect payloads, if asked for."""
        extra = [Request("invalid", {**VALID_POINT, **p}, 422) for p in self._defects]
        self._defects = []
        return [self.make(k) for k in REQUEST_TYPES] + extra

    def expect(self, rq: Request) -> None:
        if rq.expect is not None:
            return
        out = []
        for spec in rq.spec["batch"] if rq.kind == "batch10" else [rq.spec]:
            ds = self.datasets[spec["dataset"]]
            body = R.expected_v2(spec, ds.cubes[spec["variable"]],
                                 ds.cubes.get(spec["variable"] + "_uncertainty"),
                                 ds.cal, ds.n_bands)
            if rq.kind == "v1":
                tr = body["series"][0]["time_range"]
                body = {"start": tr and tr["gte"], "end": tr and tr["lte"],
                        "values": body["series"][0]["values"]}
            out.append(body)
        rq.expect = out


# --- serving -----------------------------------------------------------------


def _projection(body: dict, kind: str) -> dict:
    if kind == "v1":
        return {k: body.get(k) for k in ("start", "end", "values")}
    return {k: body.get(k) for k in ("n_cells", "series", "summary_stats", "uncertainty")}


class Server:
    """Issues requests the way an HTTP front end would: payload in, JSON
    bytes out, through the program's handlers (``execute_many`` for a
    batch, which has no HTTP route)."""

    def __init__(self, service):
        from skope_api_spark.api import http as H
        from skope_api_spark.api import models as M

        self.svc, self.H, self.M = service, H, M

    def issue(self, rq: Request) -> None:
        t0 = time.perf_counter()
        try:
            if rq.kind == "batch10":
                reqs = [self.M.TimeseriesV2Request(**p) for p in rq.payload]
                status, body = 200, [r.model_dump(mode="json")
                                     for r in self.svc.execute_many(reqs)]
            elif rq.kind == "v1":
                status, body = self.H.handle_timeseries_v1(self.svc, rq.payload)
            else:
                status, body = self.H.handle_timeseries_v2(self.svc, rq.payload)
            json.dumps(body).encode()
            rq.status, rq.body = status, body
        except Exception as ex:  # noqa: BLE001 - an escaped exception is a 500
            rq.status, rq.error = 500, f"{type(ex).__name__}: {ex}"[:300]
        rq.ms = (time.perf_counter() - t0) * 1000.0


def judge(deck: Deck, rq: Request) -> str:
    """Classify one completed request. A payload that must be refused and
    is answered with anything but 422 is a mismatch; otherwise a 504 or a
    5xx is a failed request, and a wrong status or a wrong body a
    mismatch."""
    if rq.expect == 422:
        return "expected_422" if rq.status == 422 else "mismatch"
    if rq.status == 504:
        return "timeout_504"
    if rq.status >= 500:
        return "error_5xx"
    if rq.status != 200:
        return "mismatch"
    deck.expect(rq)
    bodies = rq.body if rq.kind == "batch10" else [rq.body]
    got = [_projection(b, rq.kind) for b in bodies]
    return "ok" if R.close(got, rq.expect) else "mismatch"


@dataclass
class PassLog:
    wall_s: float
    requests: list[Request]


def run_passes(server: Server, deck: Deck, seconds: float, tracer: Tracer, phase: str,
               at_least: int, probes=None) -> tuple[list[PassLog], float]:
    """One client, closed loop: the next request is sent when the previous
    one has returned. Whole passes until ``seconds`` have passed and
    ``at_least`` are done. Returns the passes and the phase's wall seconds."""
    out: list[PassLog] = []
    t_start = time.perf_counter()
    while len(out) < at_least or time.perf_counter() - t_start < seconds:
        reqs = deck.next_pass()
        t0 = time.perf_counter()
        for i, rq in enumerate(reqs):
            rid = f"{phase}#{len(out)}.{i}"
            with tracer.span(f"api.http.{rq.kind}", request=rid):
                server.issue(rq)
            if probes is not None:
                probes(rq, rid)
        out.append(PassLog(time.perf_counter() - t0, reqs))
    return out, time.perf_counter() - t_start


# --- set-up ---------------------------------------------------------------------


def prod_meta(tiny: bool):
    from skope_api_spark.plans.catalog import DatasetMeta
    from skope_api_spark.plans.intervals import YEAR, TimeRange

    bands, rows, cols = TINY_PROD if tiny else (PROD_BANDS, *PROD_GRID)
    return DatasetMeta(PROD_DATASET, YEAR, TimeRange(date(1, 1, 1), date(bands, 1, 1)),
                       (PROD_VARIABLE,), grid_rows=rows, grid_cols=cols,
                       origin_lon=-125.0, origin_lat=50.0, pixel_deg=0.5)


def datasets(meta) -> dict[str, Dataset]:
    """The numpy model of every slice in the lake."""
    from skope_api_spark.plans.catalog import DEV_CATALOG
    from skope_api_spark.plans.intervals import MONTH
    from skope_api_spark.sources.cube import VARIABLE_RULES

    out: dict[str, Dataset] = {}
    for (ds_id, var), (value, null, f32) in DEV_SLICES.items():
        rule = VARIABLE_RULES[(ds_id, var)]
        if (rule["value"], rule["null"], rule["f32"]) != (value, null, f32):
            raise RuntimeError(f"dev cube rule for {ds_id}/{var} changed: {rule}")
        m = DEV_CATALOG[ds_id]
        ds = out.setdefault(ds_id, Dataset(m, R.Calendar(m.time_range.gte,
                                                           m.resolution == MONTH), {}))
        ds.cubes[var] = R.cube_array(m.n_bands(), m.grid_rows, m.grid_cols,
                                     {"value": value, "null": null, "f32": f32})
    out[PROD_DATASET] = Dataset(meta, R.Calendar(meta.time_range.gte, False), {
        PROD_VARIABLE: R.cube_array(meta.n_bands(), meta.grid_rows, meta.grid_cols,
                                    PROD_RULE)})
    return out


def ingest(spark, meta, path: str) -> None:
    """Write the lake through the program's own ``ingest_to_parquet``, so
    its layout decisions (partitioning, sort order, file sizing) are what
    the workload measures. That function ingests whatever ``full_dev_cube``
    yields; here it yields the dev cubes plus the lbda-shaped one."""
    from skope_api_spark.sources import cube as C

    original = C.full_dev_cube
    C.full_dev_cube = lambda s: original(s).unionByName(C.analytic_cube(
        s, PROD_DATASET, PROD_VARIABLE, meta=meta, rule=PROD_RULE))
    try:
        C.ingest_to_parquet(spark, path)
    finally:
        C.full_dev_cube = original


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


@dataclass
class Setup:
    server: Server
    datasets: dict
    ingest_s: float
    extras: dict


def setup(spark, work: str, tiny: bool) -> Setup:
    """Ingest the lake once and serve from it."""
    from skope_api_spark.plans.catalog import DEV_CATALOG, Catalog
    from skope_api_spark.sources.lake import LakeTimeseriesService

    meta = prod_meta(tiny)
    catalog = Catalog({**DEV_CATALOG, PROD_DATASET: meta})
    path = os.path.join(work, "lake")
    t0 = time.perf_counter()
    ingest(spark, meta, path)
    svc = LakeTimeseriesService(spark=spark, catalog=catalog, lake_path=path)
    ingest_s = time.perf_counter() - t0
    prod_path = os.path.join(path, f"dataset_id={PROD_DATASET}")
    extras = {
        "sources.ingest_s": ingest_s,
        "sources.lake_bytes_per_cell":
            _dir_bytes(prod_path) / (meta.n_bands() * meta.grid_rows * meta.grid_cols),
    }
    return Setup(Server(svc), datasets(meta), ingest_s, extras)


# --- traced probes ----------------------------------------------------------------


class Probes:
    """Per-layer calls made after each traced request, each in its own span
    under the request id. They repeat the request's work one public
    function at a time, so each layer is timed where its work is done."""

    def __init__(self, spark, server: Server, tracer: Tracer):
        from skope_api_spark import geometry as G
        from skope_api_spark.operators import batch as B
        from skope_api_spark.operators import windows as Wn
        from skope_api_spark.operators import zonal as Z
        from skope_api_spark.plans import intervals as I

        self.spark, self.server, self.tracer = spark, server, tracer
        self.G, self.B, self.Wn, self.Z, self.I = G, B, Wn, Z, I
        self.cells: list[int] = []
        self.rows_out: dict[str, int] = {}

    def __call__(self, rq: Request, rid: str) -> None:
        if rq.expect == 422 or rq.status != 200:
            return
        from pyspark.sql import functions as F

        M, svc, tr, G, I = self.server.M, self.server.svc, self.tracer, self.G, self.I
        bodies = rq.body if rq.kind == "batch10" else [rq.body]
        self.rows_out[rid] = sum(len(s["values"]) for b in bodies for s in b.get("series", [b]))
        payloads = rq.payload if rq.kind == "batch10" else [rq.payload]
        with tr.span("api.models.validate", request=rid):
            if rq.kind == "v1":
                reqs = [M.v1_to_v2(M.TimeseriesV1Request(**p)) for p in payloads]
            else:
                reqs = [M.TimeseriesV2Request(**M.legacy_payload_to_v2(p)) for p in payloads]
        req = reqs[0]
        with tr.span("plans.plan", request=rid):
            meta = svc.catalog.variable(req.dataset_id, req.variable_id)
            requested = I.band_range_for_time_range(
                I.normalize_time_range(req.time_range.gte, req.time_range.lte,
                                       meta.time_range),
                meta.time_range, meta.resolution)
            extract = I.extraction_band_range(
                requested, I.BandRange(1, meta.n_bands()),
                transform_adjustment=req.transform.adjustment(),
                smoother_adjustments=tuple(
                    s.smoother.adjustment() for s in req.requested_series_options))
        grid = G.Grid(meta.origin_lon, meta.origin_lat, meta.pixel_deg,
                      meta.grid_rows, meta.grid_cols)
        polygon = req.selected_area.get("type") != "Point"
        if polygon:
            with tr.span("geometry.rasterize", request=rid):
                cells = G.rasterize_all_touched(grid, req.selected_area,
                                                max_cells=svc.max_cells)
            if rq.kind in ("poly_mean", "poly_median"):
                self.cells.append(len(cells))
        with tr.span("sources.scan", request=rid):
            cube = svc.cube(meta, req.variable_id)
            sel = (G.select_cells(cube, G.mask_df(self.spark, cells)) if polygon
                   else cube.where(G.point_predicate(grid, req.selected_area)))
            sel = sel.where(F.col("band").between(extract.gte, extract.lte))
            sel.count()
        if rq.kind in ("poly_mean", "poly_median"):
            with tr.span(f"operators.zonal_{req.zonal_statistic}", request=rid):
                self.Z.zonal_series(sel, req.zonal_statistic).collect()
        if rq.kind == "smooth_zscore":
            base = self.Z.zonal_series(sel, "mean").select("band", "value").collect()
            with tr.span("operators.windows", request=rid):
                df = self.spark.createDataFrame(base, "band int, value double")
                sm = self.Wn.trailing_moving_average(df, "value", order_by=("band",), width=21)
                self.Wn.rolling_zscore(sm, "smoothed", order_by=("band",), width=50).collect()
        if rq.kind == "batch10":
            masks = {f"q{i}": [grid.cell_index(*r.selected_area["coordinates"])]
                     for i, r in enumerate(reqs)}
            with tr.span("operators.batch", request=rid):
                self.B.batched_zonal_series(cube, masks, "mean",
                                            series_keys=("band",)).collect()
        if rq.kind != "v1":
            model = M.TimeseriesV2Response(**bodies[0])
            with tr.span("api.serialize", request=rid):
                json.dumps(model.model_dump(mode="json")).encode()


# --- the run --------------------------------------------------------------------

SPAN_METRICS = ("api.models.validate", "plans.plan", "api.serialize", "geometry.rasterize",
                "sources.scan", "operators.zonal_mean", "operators.zonal_median",
                "operators.windows", "operators.batch")


def run(spark, seed: int, seconds: float, trace: bool, tiny: bool, work: str,
        known_defects: bool = False) -> Result:
    """Set up, one cold pass, then measured passes. A traced run measures
    half its time untraced and half with spans and probes."""
    st = setup(spark, work, tiny)

    tracer = Tracer(spark)
    deck = Deck(st.datasets, random.Random(seed), known_defects)
    cold, _ = run_passes(st.server, deck, 0, tracer, "cold", 1)
    traced, probes = [], None
    if trace:
        measured, wall = run_passes(st.server, deck, seconds / 2, tracer, "untraced", 1)
        tracer.enabled = True
        probes = Probes(spark, st.server, tracer)
        traced, _ = run_passes(st.server, deck, seconds / 2, tracer, "traced", 1, probes)
        tracer.enabled = False
    else:
        measured, wall = run_passes(st.server, deck, seconds, tracer, "measure", 2)

    every = [rq for p in cold + measured + traced for rq in p.requests]
    by_type: dict[str, Counter] = {}
    for rq in every:
        by_type.setdefault(rq.kind, Counter())[judge(deck, rq)] += 1
    samples = [rq.ms for p in measured for rq in p.requests]
    e2e = {
        "latency_p50_ms": median(samples),
        "latency_p90_ms": percentile(samples, 90),
        "throughput_rps": sum(rq.members for p in measured for rq in p.requests) / wall,
        "pass_s": median(p.wall_s for p in measured),
        "cold_pass_s": cold[0].wall_s,
        "setup_s": st.ingest_s,
    }
    layers = {"latency.samples": len(samples), **st.extras}
    finish = None
    if trace:
        selfs = tracer.self_ms()
        for name in SPAN_METRICS:
            layers[name + "_ms"] = median(selfs[sp.span_id] for sp in tracer.spans
                                          if sp.name == name)
        requests = [sp for sp in tracer.spans if sp.name.startswith("api.http.")]
        for kind in REQUEST_TYPES:
            layers[f"api.http.{kind}_ms"] = median(
                sp.ms for sp in requests if sp.name == f"api.http.{kind}")
        layers["geometry.cells"] = median(probes.cells)
        layers["api.service.unaccounted_ms"] = median(
            rq.ms - rq.body["processing_time_ms"] for p in measured + traced
            for rq in p.requests if rq.status == 200 and rq.kind not in ("v1", "batch10"))
        layers["trace.overhead_ms"] = median(sp.ms for sp in requests) - median(samples)

        def finish(ledgers: dict) -> dict:
            out = spark_metrics(ledgers, tracer.spans, requests, len(requests))
            out["sources.rows_read_per_row_out"] = median(
                ledger_for([sp.span_id], ledgers).records_read / probes.rows_out[sp.request]
                for sp in requests if probes.rows_out.get(sp.request))
            return out

    outcomes = sum(by_type.values(), Counter())
    detail = {"outcomes": {k: dict(v) for k, v in by_type.items()},
              "errors": [f"{rq.kind}: {rq.error} {json.dumps(rq.payload)[:300]}"
                         for rq in every if rq.error][:20],
              "passes": len(measured), "ingest_s": st.ingest_s,
              "type_ms": {k: median(rq.ms for p in measured for rq in p.requests
                                    if rq.kind == k) for k in REQUEST_TYPES}}
    return Result(e2e, layers, outcomes, detail, tracer, finish)
