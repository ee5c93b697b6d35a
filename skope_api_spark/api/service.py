"""Timeseries pipeline service — the v2 query lifecycle on Spark.

Mirrors the reference lifecycle (SURVEY.md §3; reference
``timeseries/app/core/services.py``): validate → bind catalog → plan
(interval algebra) → extract (pruned scan + cell predicate) → zonal agg →
transform → per-series smoothing → relabel/clip → summarize.

Execution shape: ONE base-series subplan (the shared extraction,
reference ``timeseries.py:402-415``), per-series window expressions unioned
with a ``series_name`` column, ONE collect under a cancellable job group
(cooperative timeout — reference's anyio ``fail_after`` → 504 becomes
``TimeseriesTimeoutError``; the Spark jobs are actually cancelled, not
orphaned). One deadline covers the whole request: the clock starts at
entry and every collect gets what is left of the budget.

The request path collects through Arrow and only the rows the response
reads: the untransformed base rides along (under the ``__base`` sentinel)
only when a transform needs it for the "Original" summary row; the base is
cached only when more than one unioned part reads it, and released however
the request ends; a request whose every series clips to empty makes no
collect. The selection mask is a local relation (``geometry.mask_df``), so
broadcasting it starts no job, and it is built once per request and shared
by every slice the request reads. Rows come back unsorted as one Arrow
table, split per series and ordered by band on the driver.

Known divergence from the reference (documented in SURVEY.md §2.5 W7): the
reference hard-codes an annual PeriodIndex (``freq="A"``,
``timeseries.py:222``) so *monthly* series get mislabeled time ranges; here
times come from the cube's real ``time`` column at the dataset's
resolution.
"""

from __future__ import annotations

import math
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skope_api_spark.api import models as M
from skope_api_spark.geometry import (
    DEFAULT_MAX_CELLS,
    Grid,
    mask_df,
    point_cell,
    rasterize_all_touched,
    select_cells,
)
from skope_api_spark.operators import windows as wops
from skope_api_spark.operators.batch import batch_mask_df
from skope_api_spark.operators.zonal import zonal_series
from skope_api_spark.plans.catalog import Catalog, DatasetMeta
from skope_api_spark.plans.intervals import (
    Adjustment,
    BandRange,
    TimeRange,
    band_range_for_time_range,
    extraction_band_range,
    normalize_time_range,
)
from skope_api_spark.session import local_frame
from skope_api_spark.sources.cube import analytic_cube, cell_area_m2


class TimeseriesTimeoutError(RuntimeError):
    """Request exceeded max_processing_time; Spark jobs were cancelled."""


# series_name of the untransformed base rows that ride along in a collect
BASE = "__base"


def _grid(meta: DatasetMeta) -> Grid:
    return Grid(
        origin_lon=meta.origin_lon,
        origin_lat=meta.origin_lat,
        pixel_deg=meta.pixel_deg,
        rows=meta.grid_rows,
        cols=meta.grid_cols,
        pixel_deg_lon=meta.pixel_deg_lon,
        pixel_deg_lat=meta.pixel_deg_lat,
    )


def _shrink(r: BandRange | None, adj: Adjustment) -> BandRange | None:
    """Bands still carrying full-window values after an op with ``adj``."""
    if r is None:
        return None
    try:
        return r.shift((-adj[0], -adj[1]))
    except ValueError:
        return None


def _series_ranges(
    req: M.TimeseriesV2Request, extract: BandRange, requested: BandRange
) -> list[tuple[M.SeriesOptions, BandRange]]:
    """Each requested series with the bands it returns: those still
    carrying full-window values after the transform and its smoother,
    clipped to the request. A series left with none is empty (an edge
    request) and is not listed."""
    post_transform = _shrink(extract, req.transform.adjustment())
    out = []
    for opt in req.requested_series_options:
        bands = _shrink(post_transform, opt.smoother.adjustment())
        if bands is None:
            continue
        try:
            out.append((opt, bands.intersect(requested)))
        except ValueError:  # disjoint
            continue
    return out


def remaining_ms(budget_ms: int, t0: float) -> int:
    """What is left at this moment of a ``budget_ms`` deadline started at
    ``t0`` (``time.perf_counter()``). 0 means no deadline; an exhausted
    budget raises ``TimeseriesTimeoutError`` before any job is submitted."""
    if budget_ms <= 0:
        return 0
    left = budget_ms - int((time.perf_counter() - t0) * 1000)
    if left <= 0:
        raise TimeseriesTimeoutError(f"processing exceeded {budget_ms} ms")
    return left


Selector = Callable[[DataFrame], DataFrame]


def _selector(
    spark: SparkSession, sel: list[tuple[int, int]], mask: DataFrame | None = None
) -> Selector:
    """cube → its rows in the selection ``sel``. One cell is an equality
    predicate (pushdown, no join); more are a broadcast semi-join with
    ``mask`` (built from ``sel`` unless given), so every slice a request
    reads (the series, a reference interval, the uncertainty companion)
    shares one mask."""
    if len(sel) == 1:
        ((r, c),) = sel
        return lambda cube: cube.where((F.col("row") == r) & (F.col("col") == c))
    if mask is None:
        mask = mask_df(spark, sel)
    return lambda cube: select_cells(cube, mask)


def collect_with_timeout(
    spark: SparkSession, df: DataFrame, timeout_ms: int
) -> pa.Table:
    """Collect ``df`` as an Arrow table under a job group; cancel the group
    when the budget expires.

    Cooperative cancellation (reference services.py:187-201 → 504): the JVM
    scheduler interrupts the stage tasks; nothing keeps running after the
    deadline. Arrow batches decode column-wise, with no per-row ``Row``.
    """
    if timeout_ms <= 0:
        return df.toArrow()
    sc = spark.sparkContext
    group = f"skope-{uuid.uuid4().hex[:8]}"
    fired = threading.Event()

    def cancel() -> None:
        fired.set()
        sc.cancelJobGroup(group)

    sc.setJobGroup(group, "timeseries request", interruptOnCancel=True)
    timer = threading.Timer(timeout_ms / 1000.0, cancel)
    timer.start()
    try:
        out = df.toArrow()
    except Exception as ex:  # noqa: BLE001
        if fired.is_set():
            raise TimeseriesTimeoutError(
                f"processing exceeded {timeout_ms} ms"
            ) from ex
        raise
    finally:
        timer.cancel()
        sc.setJobGroup("", "", False)
    if fired.is_set():
        # The deadline is authoritative: cancelJobGroup no-ops when it
        # fires before the job is submitted (planning/analysis can exceed
        # a short budget), and the collect then completes anyway. The
        # reference 504s on deadline regardless (services.py:187-201) —
        # a result that arrives after the budget is still a timeout.
        raise TimeseriesTimeoutError(f"processing exceeded {timeout_ms} ms")
    return out


def _split(table: pa.Table | None, key: str) -> dict[str, pa.Table]:
    """``table``'s rows by ``key``, each part ordered by band."""
    if table is None or table.num_rows == 0:
        return {}
    table = table.sort_by([(key, "ascending"), ("band", "ascending")])
    keys = table.column(key)
    change = pc.not_equal(keys[1:], keys[:-1]).to_numpy(zero_copy_only=False)
    starts = [0, *(np.flatnonzero(change) + 1).tolist(), table.num_rows]
    return {
        keys[a].as_py(): table.slice(a, b - a) for a, b in zip(starts, starts[1:])
    }


def _series(name: str, part: pa.Table | None) -> M.SeriesResult:
    """A returned series from its band-ordered rows."""
    if part is None:
        return M.SeriesResult(name=name, time_range=None, values=[])
    times = part.column("time")
    return M.SeriesResult(
        name=name,
        time_range=M.TimeRangeModel(gte=times[0].as_py(), lte=times[-1].as_py()),
        values=part.column("value").to_pylist(),
    )


def _summary(values: list[float | None]) -> tuple[float | None, float | None, float | None]:
    """Driver-side summary of a returned series (reference
    timeseries.py:243-261): nan-skipping mean/median/POPULATION stddev;
    all-missing → None."""
    xs = np.array([math.nan if v is None else v for v in values], dtype=float)
    if np.all(np.isnan(xs)):
        return None, None, None
    return (
        float(np.nanmean(xs)),
        float(np.nanmedian(xs)),
        float(np.nanstd(xs)),
    )


@dataclass
class TimeseriesService:
    spark: SparkSession
    catalog: Catalog = field(default_factory=Catalog)
    max_cells: int = DEFAULT_MAX_CELLS

    def cube(self, meta: DatasetMeta, variable_id: str) -> DataFrame:
        """Cube slice provider — dev default regenerates the analytic cube;
        override/subclass to read the ingested Parquet lake instead."""
        return analytic_cube(self.spark, meta.dataset_id, variable_id, meta=meta)

    # -- lifecycle -----------------------------------------------------------

    def _plan(self, req: M.TimeseriesV2Request):
        """Bind catalog + compute requested/extraction band ranges."""
        meta = self.catalog.variable(req.dataset_id, req.variable_id)
        grid = _grid(meta)
        requested_time = normalize_time_range(
            req.time_range.gte, req.time_range.lte, meta.time_range
        )
        requested = band_range_for_time_range(
            requested_time, meta.time_range, meta.resolution
        )
        extract = extraction_band_range(
            requested,
            BandRange(1, meta.n_bands()),
            transform_adjustment=req.transform.adjustment(),
            smoother_adjustments=tuple(
                s.smoother.adjustment() for s in req.requested_series_options
            ),
        )
        return meta, grid, requested, extract

    def _selection_cells(
        self, req: M.TimeseriesV2Request, grid: Grid
    ) -> list[tuple[int, int]]:
        """The selected (row, col) set for any geometry (validated)."""
        area_type = req.selected_area.get("type")
        if area_type == "Point" or (
            area_type == "Feature"
            and req.selected_area.get("geometry", {}).get("type") == "Point"
        ):
            return [point_cell(grid, req.selected_area)]
        return rasterize_all_touched(grid, req.selected_area, max_cells=self.max_cells)

    @staticmethod
    def _area_m2(grid: Grid, cells: list[tuple[int, int]]) -> float:
        return sum(
            cell_area_m2(grid.origin_lat - r * grid.px_lat, grid.px_lat, grid.px_lon)
            for r, _ in cells
        )

    def _series_parts(
        self,
        req: M.TimeseriesV2Request,
        meta: DatasetMeta,
        select: Selector,
        cube: DataFrame,
        base: DataFrame,
        ranges: list[tuple[M.SeriesOptions, BandRange]],
    ) -> list[DataFrame]:
        """Transform + per-series smoothing + clip; one tagged frame per
        series of ``ranges`` (W1/W2/W7 + A7)."""
        if not ranges:
            return []
        transformed = self._apply_transform(req, meta, select, cube, base)
        return [
            self._apply_smoother(transformed, opt.smoother)
            .where(F.col("band").between(out.gte, out.lte))
            .withColumn("series_name", F.lit(opt.name))
            .select("series_name", "band", "time", "value")
            for opt, out in ranges
        ]

    def _assemble(
        self,
        req: M.TimeseriesV2Request,
        requested: BandRange,
        series: dict[str, pa.Table],
        n_cells: int,
        area_m2: float,
        t0: float,
    ) -> M.TimeseriesV2Response:
        """The response from a request's rows, split per series name."""
        series_out: list[M.SeriesResult] = []
        stats_out: list[M.SummaryStatRow] = []

        if not isinstance(req.transform, M.NoTransform):
            # A6 — stats of the UNtransformed series over the requested range
            orig_vals: list = []
            base = series.get(BASE)
            if base is not None:
                band = base.column("band")
                keep = pc.and_(
                    pc.greater_equal(band, requested.gte),
                    pc.less_equal(band, requested.lte),
                )
                orig_vals = base.filter(keep).column("value").to_pylist()
            mean, median, stdev = _summary(orig_vals)
            stats_out.append(
                M.SummaryStatRow(name="Original", mean=mean, median=median, stdev=stdev)
            )

        for opt in req.requested_series_options:
            out = _series(opt.name, series.get(opt.name))
            series_out.append(out)
            mean, median, stdev = _summary(out.values)
            stats_out.append(
                M.SummaryStatRow(name=opt.name, mean=mean, median=median, stdev=stdev)
            )

        return M.TimeseriesV2Response(
            dataset_id=req.dataset_id,
            variable_id=req.variable_id,
            n_cells=n_cells,
            area_m2=area_m2,
            series=series_out,
            summary_stats=stats_out,
            processing_time_ms=int((time.perf_counter() - t0) * 1000),
        )

    def _collect_parts(
        self, parts: list[DataFrame], base: DataFrame, budget_ms: int, t0: float
    ) -> pa.Table | None:
        """ONE collect of the union of ``parts`` (None when there are none:
        the response reads no rows). ``base`` is cached only when more than
        one part reads it, and released however the collect ends."""
        if not parts:
            return None
        fanout = parts[0]
        for p in parts[1:]:
            fanout = fanout.unionByName(p)
        shared = len(parts) > 1
        if shared:
            base.cache()
        try:
            return collect_with_timeout(
                self.spark, fanout, remaining_ms(budget_ms, t0)
            )
        finally:
            if shared:
                base.unpersist()

    def execute(self, req: M.TimeseriesV2Request) -> M.TimeseriesV2Response:
        t0 = time.perf_counter()  # the request's one deadline starts here
        meta, grid, requested, extract = self._plan(req)

        # -- extraction: cell predicate + band pruning ----------------------
        cube = self.cube(meta, req.variable_id)
        sel = self._selection_cells(req, grid)
        select = _selector(self.spark, sel)
        cells = select(cube).where(F.col("band").between(extract.gte, extract.lte))
        base = zonal_series(cells, req.zonal_statistic).select("band", "time", "value")

        # ONE collect of the rows the response reads: the series, plus the
        # base series under a sentinel name when a transform's "Original"
        # stats need it. No global sort: _split orders each series.
        ranges = _series_ranges(req, extract, requested)
        parts = self._series_parts(req, meta, select, cube, base, ranges)
        if not isinstance(req.transform, M.NoTransform):
            parts.append(base.withColumn("series_name", F.lit(BASE)))
        table = self._collect_parts(parts, base, req.max_processing_time, t0)
        resp = self._assemble(
            req,
            requested,
            _split(table, "series_name"),
            len(sel),
            self._area_m2(grid, sel),
            t0,
        )
        if req.include_uncertainty:
            resp.uncertainty = self._uncertainty_series(
                req, meta, select, requested, t0
            )
        return resp

    def _uncertainty_series(
        self,
        req: M.TimeseriesV2Request,
        meta: DatasetMeta,
        select: Selector,
        requested: BandRange,
        t0: float,
    ) -> M.SeriesResult | None:
        """S6 — zonal series of the companion uncertainty slice over the
        same cells, clipped to the requested range (no padding: transforms
        and smoothers never apply to the uncertainty channel)."""
        try:
            ucube = self.cube(meta, req.variable_id + "_uncertainty")
        except KeyError:
            return None  # dataset has no uncertainty companion
        ucells = select(ucube).where(
            F.col("band").between(requested.gte, requested.lte)
        )
        table = collect_with_timeout(
            self.spark,
            zonal_series(ucells, req.zonal_statistic).select("band", "time", "value"),
            remaining_ms(req.max_processing_time, t0),
        )
        if table.num_rows == 0:
            return None
        return _series("uncertainty", table.sort_by("band"))

    def execute_many(
        self, reqs: list[M.TimeseriesV2Request]
    ) -> list[M.TimeseriesV2Response]:
        """Batched execution: requests sharing (dataset, variable, statistic)
        compile into ONE scan + ONE zonal aggregation via a query_id-tagged
        broadcast mask join (operators.batch pattern) — the 100 TB serving
        shape: thousands of requests, a handful of jobs.

        Per-request transforms/smoothers still run as (tiny) window plans
        over the shared base; every series that is the base itself (no
        transform, no smoother) is read through one join for the whole
        group. All of it is unioned into ONE collect per group; the base
        rows ride along only for members with a transform. The rows are
        split by query_id once. The deadline starts at entry; a group
        answers within its tightest member's budget.
        """
        t0 = time.perf_counter()
        results: list[M.TimeseriesV2Response | None] = [None] * len(reqs)

        groups: dict[tuple, list[int]] = {}
        for i, req in enumerate(reqs):
            key = (req.dataset_id, req.variable_id, req.zonal_statistic)
            groups.setdefault(key, []).append(i)

        for (dataset_id, variable_id, stat), idxs in groups.items():
            meta = self.catalog.variable(dataset_id, variable_id)
            grid = _grid(meta)
            cube = self.cube(meta, variable_id)

            plans: dict[int, tuple] = {}
            masks: dict[str, list[tuple[int, int]]] = {}
            range_rows: list[tuple[str, int, int]] = []
            for i in idxs:
                req = reqs[i]
                _, _, requested, extract = self._plan(req)
                sel = self._selection_cells(req, grid)
                qid = f"q{i}"
                plans[i] = (requested, extract, sel, qid)
                masks[qid] = sel
                range_rows.append((qid, extract.gte, extract.lte))

            mask = batch_mask_df(self.spark, masks)
            ranges = local_frame(
                self.spark, range_rows, "query_id string, bgte int, blte int"
            )
            # one scan: inner broadcast mask join (fan-out per membership),
            # then per-query band clipping via the broadcast ranges dim
            tagged = (
                cube.join(F.broadcast(mask), ["row", "col"])
                .join(F.broadcast(ranges), "query_id")
                .where(F.col("band").between(F.col("bgte"), F.col("blte")))
            )
            base_all = zonal_series(
                tagged, stat, keys=("query_id", "band", "time")
            ).select("query_id", "band", "time", "value")
            budget = min(
                (reqs[i].max_processing_time for i in idxs if reqs[i].max_processing_time),
                default=0,
            )

            parts: list[DataFrame] = []
            transformed: list[str] = []
            plain_rows: list[tuple[str, str, int, int]] = []
            for i in idxs:
                req = reqs[i]
                requested, extract, sel, qid = plans[i]
                untransformed = isinstance(req.transform, M.NoTransform)
                if not untransformed:
                    transformed.append(qid)
                windowed = []
                for opt, bands in _series_ranges(req, extract, requested):
                    if untransformed and isinstance(opt.smoother, M.NoSmoother):
                        plain_rows.append((qid, opt.name, bands.gte, bands.lte))
                    else:
                        windowed.append((opt, bands))
                if not windowed:
                    continue
                base_i = base_all.where(F.col("query_id") == qid).select(
                    "band", "time", "value"
                )
                # a member's own cells are its rows of the batch mask
                own = (
                    mask.where(F.col("query_id") == qid).select("row", "col")
                    if len(sel) > 1
                    else None
                )
                select = _selector(self.spark, sel, own)
                for p in self._series_parts(req, meta, select, cube, base_i, windowed):
                    parts.append(p.withColumn("query_id", F.lit(qid)))
            if plain_rows:
                # the shared base joined to a (query_id, series_name, bands)
                # dim: one part for every member's base-itself series
                plain = local_frame(
                    self.spark,
                    plain_rows,
                    "query_id string, series_name string, sgte int, slte int",
                )
                parts.append(
                    base_all.join(F.broadcast(plain), "query_id")
                    .where(F.col("band").between(F.col("sgte"), F.col("slte")))
                    .drop("sgte", "slte")
                )
            if transformed:
                parts.append(
                    base_all.where(F.col("query_id").isin(transformed)).withColumn(
                        "series_name", F.lit(BASE)
                    )
                )
            by_query = _split(
                self._collect_parts(parts, base_all, budget, t0), "query_id"
            )

            for i in idxs:
                requested, extract, sel, qid = plans[i]
                results[i] = self._assemble(
                    reqs[i],
                    requested,
                    _split(by_query.get(qid), "series_name"),
                    len(sel),
                    self._area_m2(grid, sel),
                    t0,
                )
        return results  # type: ignore[return-value]

    def execute_v1(self, req: M.TimeseriesV1Request) -> dict:
        """P9 — legacy adapter: run v2, reshape (reference routers/v1)."""
        v2 = M.v1_to_v2(req)
        resp = self.execute(v2)
        s0 = resp.series[0]
        return {
            "datasetId": req.datasetId,
            "variableName": req.variableName,
            "boundaryGeometry": req.boundaryGeometry,
            "start": s0.time_range.gte.isoformat() if s0.time_range else None,
            "end": s0.time_range.lte.isoformat() if s0.time_range else None,
            "values": s0.values,
        }

    def metadata(self) -> list[dict]:
        """GET /metadata equivalent: catalog descriptors."""
        return [
            {
                "dataset_id": m.dataset_id,
                "resolution": m.resolution,
                "time_range": {
                    "gte": m.time_range.gte.isoformat(),
                    "lte": m.time_range.lte.isoformat(),
                },
                "variables": list(m.variables),
            }
            for m in self.catalog.datasets.values()
        ]

    # -- internals -----------------------------------------------------------

    def _apply_transform(
        self,
        req: M.TimeseriesV2Request,
        meta: DatasetMeta,
        select: Selector,
        cube: DataFrame,
        base: DataFrame,
    ) -> DataFrame:
        """The transformed series (``_series_ranges`` knows which of its
        bands carry valid values)."""
        t = req.transform
        if isinstance(t, M.NoTransform):
            return base
        if isinstance(t, M.ZScoreMovingInterval):
            z = wops.rolling_zscore(
                base, "value", order_by=("band",), width=t.width, out_col="__z"
            )
        elif isinstance(t, M.ZScoreFixedInterval) and t.time_range is None:
            # scipy.zscore over the extracted interval (reference
            # timeseries.py:163-167 applies it to the full padded slice)
            z = wops.fixed_interval_zscore(base, "value", out_col="__z")
        elif isinstance(t, M.ZScoreFixedInterval):
            ref_tr = TimeRange(t.time_range.gte, t.time_range.lte)
            ref_bands = band_range_for_time_range(
                ref_tr, meta.time_range, meta.resolution
            )
            # second slice over the same cells (reference services.py:131-147);
            # reuses the request's selection, only the band filter changes
            ref_cells = select(cube).where(
                F.col("band").between(ref_bands.gte, ref_bands.lte)
            )
            ref_series = zonal_series(ref_cells, req.zonal_statistic).select(
                "band", "value"
            )
            z = wops.fixed_reference_zscore(base, ref_series, "value", out_col="__z")
        else:
            raise TypeError(f"unknown transform {type(t).__name__}")
        return z.select("band", "time", F.col("__z").alias("value"))

    def _apply_smoother(self, series: DataFrame, smoother) -> DataFrame:
        if isinstance(smoother, M.NoSmoother):
            return series
        if isinstance(smoother, M.MovingAverageSmoother):
            fn = (
                wops.centered_moving_average
                if smoother.method == "centered"
                else wops.trailing_moving_average
            )
            return fn(
                series,
                "value",
                order_by=("band",),
                width=smoother.width,
                out_col="__sm",
            ).select("band", "time", F.col("__sm").alias("value"))
        raise TypeError(f"unknown smoother {type(smoother).__name__}")

