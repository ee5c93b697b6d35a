"""Parquet-lake-backed cube provider for the API service.

``TimeseriesService.cube()`` defaults to regenerating the analytic dev
cube; production serves from the ingested Parquet lake
(``sources.cube.ingest_to_parquet`` layout: partitioned by
(dataset_id, variable_id), sorted by (band, row, col)). This provider
pins a slice with partition-pruning predicates, so every request's scan
reads exactly one (dataset, variable) partition and the ``band BETWEEN``
filter prunes row groups inside it.

The lake is resolved once, when the service is built: its file listing
and schema are held by the service, so a request starts no listing or
schema-inference job. A re-ingest or ``maintenance.compact`` rewrites the
files under the service, so build a new service after either.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skope_api_spark.api.service import TimeseriesService
from skope_api_spark.plans.catalog import DatasetMeta


@dataclass
class LakeTimeseriesService(TimeseriesService):
    """Service variant reading the ingested cube lake instead of
    regenerating fixtures. ``lake_path`` is the ``ingest_to_parquet``
    output root."""

    lake_path: str = ""
    _lake: DataFrame | None = field(default=None, init=False, repr=False)

    def __post_init__(self) -> None:
        if self.lake_path:
            self._lake = self.spark.read.parquet(self.lake_path)

    def cube(self, meta: DatasetMeta, variable_id: str) -> DataFrame:
        if self._lake is None:
            raise ValueError("LakeTimeseriesService requires lake_path")
        return self._lake.where(
            (F.col("dataset_id") == meta.dataset_id)
            & (F.col("variable_id") == variable_id)
        )


def lake_service(spark: SparkSession, lake_path: str) -> LakeTimeseriesService:
    return LakeTimeseriesService(spark=spark, lake_path=lake_path)
