"""The serving path's per-request lifecycle: driver-built frames are local
relations, a request collects only the rows its response reads, one
deadline covers the whole request, and the cached base is released however
the request ends."""

from __future__ import annotations

import re
import time

import pytest

from skope_api_spark.api import http as H
from skope_api_spark.api import models as M
from skope_api_spark.api import service as S
from skope_api_spark.geometry import mask_df
from skope_api_spark.operators.batch import batch_mask_df
from skope_api_spark.session import local_frame

# 3x3 cells of the 5x5 dev grid (origin -123, 45; 1-degree cells)
SQUARE = {
    "type": "Polygon",
    "coordinates": [
        [[-123.0, 45.0], [-120.6, 45.0], [-120.6, 42.6], [-123.0, 42.6], [-123.0, 45.0]]
    ],
}
POINT = {"type": "Point", "coordinates": [-122.5, 44.5]}


@pytest.fixture(scope="module")
def service(spark):
    return S.TimeseriesService(spark)


def v2(**kw) -> M.TimeseriesV2Request:
    base = dict(
        dataset_id="annual_5x5x5_dataset",
        variable_id="float32_variable",
        selected_area=SQUARE,
    )
    base.update(kw)
    return M.TimeseriesV2Request(**base)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def collects(monkeypatch):
    """Records (timeout_ms, executed plan) of every collect the service
    makes; ``after`` runs after each real collect."""
    calls: list[tuple[int, str]] = []
    real = S.collect_with_timeout

    def record(spark, df, timeout_ms):
        calls.append((timeout_ms, _plan(df)))
        out = real(spark, df, timeout_ms)
        record.after(len(calls))
        return out

    record.after = lambda n: None
    record.calls = calls
    monkeypatch.setattr(S, "collect_with_timeout", record)
    return record


class TestLocalRelations:
    def test_mask_df_is_a_local_table_scan(self, spark):
        df = mask_df(spark, [(0, 1), (2, 3)])
        assert df.schema.simpleString() == "struct<row:int,col:int>"
        plan = _plan(df)
        assert plan.startswith("LocalTableScan") and "ExistingRDD" not in plan
        assert sorted(tuple(r) for r in df.collect()) == [(0, 1), (2, 3)]

    def test_batch_mask_df_is_a_local_table_scan(self, spark):
        df = batch_mask_df(spark, {"q0": [(0, 1)], "q1": [(0, 1), (4, 4)]})
        assert df.schema.simpleString() == "struct<query_id:string,row:int,col:int>"
        plan = _plan(df)
        assert plan.startswith("LocalTableScan") and "ExistingRDD" not in plan
        assert sorted(tuple(r) for r in df.collect()) == [
            ("q0", 0, 1),
            ("q1", 0, 1),
            ("q1", 4, 4),
        ]

    def test_empty_local_frame_keeps_its_schema(self, spark):
        df = local_frame(spark, [], "query_id string, bgte int, blte int")
        assert df.schema.simpleString() == "struct<query_id:string,bgte:int,blte:int>"
        assert df.collect() == []

    def test_request_plans_scan_no_rdd(self, service, collects):
        """Every frame a request builds on the driver (the mask; the batch
        mask and ranges dims) reaches the plan as a LocalTableScan, so
        broadcasting it starts no job."""
        service.execute(
            v2(
                include_uncertainty=True,
                transform={
                    "type": "ZScoreFixedInterval",
                    "time_range": {"gte": "0002-01-01", "lte": "0004-01-01"},
                },
            )
        )
        service.execute_many([v2(), v2(selected_area=POINT)])
        plans = [p for _, p in collects.calls]
        assert len(plans) == 3
        assert not any("ExistingRDD" in p for p in plans)
        assert all(re.search(r"LocalTableScan \[row#\d+, col#\d+\]", p) for p in plans[:2])
        for dims in (r"query_id#\d+, row#\d+, col#\d+", r"query_id#\d+, bgte#\d+, blte#\d+"):
            assert all(re.search(rf"LocalTableScan \[{dims}\]", p) for p in plans[2:])


class TestOneDeadline:
    def test_later_collects_get_what_is_left(self, service, collects):
        collects.after = lambda n: time.sleep(0.3)
        service.execute(v2(include_uncertainty=True, max_processing_time=15_000))
        (first, _), (second, _) = collects.calls
        assert 0 < first <= 15_000
        assert second <= first - 300

    def test_exhausted_budget_is_a_504(self, service, collects):
        """The main collect finishes inside the budget; the uncertainty
        collect would start after it, so the request times out."""
        collects.after = lambda n: time.sleep(2.5)
        status, body = H.handle_timeseries_v2(
            service,
            {
                "dataset_id": "annual_5x5x5_dataset",
                "variable_id": "float32_variable",
                "selected_area": SQUARE,
                "include_uncertainty": True,
                "max_processing_time": 2_000,
            },
        )
        assert status == 504, body
        assert len(collects.calls) == 1

    def test_batch_group_gets_its_tightest_budget(self, service, collects):
        budgets = (15_000, 0, 4_000)  # 0: no deadline, so it lifts nothing
        service.execute_many(
            [v2(selected_area=POINT, max_processing_time=b) for b in budgets]
        )
        assert len(collects.calls) == 1
        assert all(0 < t <= 4_000 for t, _ in collects.calls)


class TestReleaseOnFailure:
    @staticmethod
    def _fail_after_collect(monkeypatch):
        """A collect that materializes the cached base, then overruns."""
        real = S.collect_with_timeout

        def overrun(spark, df, timeout_ms):
            real(spark, df, timeout_ms)
            raise S.TimeseriesTimeoutError("forced")

        monkeypatch.setattr(S, "collect_with_timeout", overrun)

    @staticmethod
    def _persisted(spark) -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def test_execute_504_unpersists_base(self, spark, service, monkeypatch):
        before = self._persisted(spark)
        self._fail_after_collect(monkeypatch)
        status, _ = H.handle_timeseries_v2(
            service,
            {
                "dataset_id": "annual_5x5x5_dataset",
                "variable_id": "float32_variable",
                "selected_area": SQUARE,
            },
        )
        assert status == 504
        assert self._persisted(spark) == before

    def test_execute_many_timeout_unpersists_base(self, spark, service, monkeypatch):
        before = self._persisted(spark)
        self._fail_after_collect(monkeypatch)
        with pytest.raises(S.TimeseriesTimeoutError):
            service.execute_many([v2(), v2(selected_area=POINT)])
        assert self._persisted(spark) == before


class TestOnlyTheRowsTheResponseReads:
    def test_plain_request_has_no_base_and_no_cache(self, service, collects):
        """One series, no transform: the collect reads the series alone, so
        nothing is cached and no ``__base`` rows ride along."""
        service.execute(v2())
        ((_, plan),) = collects.calls
        assert "InMemoryRelation" not in plan and S.BASE not in plan

    def test_transform_request_keeps_base_and_cache(self, service, collects):
        """A transform's "Original" stats read the untransformed base: it
        rides along, and its two readers share one cached base."""
        resp = service.execute(v2(transform={"type": "ZScoreMovingInterval", "width": 3}))
        ((_, plan),) = collects.calls
        assert "InMemoryRelation" in plan and S.BASE in plan
        assert resp.summary_stats[0].name == "Original"
        assert resp.summary_stats[0].mean is not None

    def test_execute_many_is_one_collect_per_group(self, service, collects):
        reqs = [v2(), v2(selected_area=POINT)]
        reqs.append(v2(variable_id="uint16_variable"))  # a second group
        reqs.append(v2(transform={"type": "ZScoreMovingInterval", "width": 3}))
        service.execute_many(reqs)
        assert len(collects.calls) == 2

    def test_edge_request_clipped_to_empty_makes_no_collect(self, service, collects):
        """A centered width-5 smoother needs two bands on each side: a
        request for band 1 alone has no full window, so its series is
        empty and nothing is collected."""
        status, body = H.handle_timeseries_v2(
            service,
            {
                "dataset_id": "annual_5x5x5_dataset",
                "variable_id": "float32_variable",
                "selected_area": POINT,
                "time_range": {"gte": "0001-01-01", "lte": "0001-01-01"},
                "requested_series_options": [
                    {
                        "name": "smoothed",
                        "smoother": {
                            "type": "MovingAverageSmoother",
                            "method": "centered",
                            "width": 5,
                        },
                    }
                ],
            },
        )
        assert status == 200, body
        assert body["series"] == [{"name": "smoothed", "time_range": None, "values": []}]
        assert collects.calls == []

    def test_batch_of_50_points_matches_execute(self, service, collects):
        """Every member of a 50-point batch gets the series its own
        ``execute`` returns, from one collect; every seventh member has a
        transform, every fifth a smoother."""

        def member(i: int) -> M.TimeseriesV2Request:
            kw: dict = {}
            if i % 7 == 0:
                kw["transform"] = {"type": "ZScoreMovingInterval", "width": 3}
            if i % 5 == 0:
                smoother = {"type": "MovingAverageSmoother", "method": "trailing", "width": 3}
                kw["requested_series_options"] = [{"name": "ma", "smoother": smoother}]
            return v2(
                dataset_id="monthly_5x5x60_dataset",
                selected_area={
                    "type": "Point",
                    "coordinates": [-122.5 + (i % 5), 44.5 - (i // 5 % 5)],
                },
                time_range={"gte": f"000{1 + i % 3}-01-01", "lte": "0005-06-01"},
                max_processing_time=0,
                **kw,
            )

        reqs = [member(i) for i in range(50)]
        batch = service.execute_many(reqs)
        assert len(collects.calls) == 1
        for req, got in zip(reqs, batch):
            want = service.execute(req)
            assert got.series == want.series
            assert got.summary_stats == want.summary_stats
            assert got.n_cells == want.n_cells
