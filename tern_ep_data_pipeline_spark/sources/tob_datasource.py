"""Spark 4 Python DataSource for Campbell TOB1/TOB3 files.

The idiomatic Spark-4 packaging of the TOB decoder (sources.tob):

    from tern_ep_data_pipeline_spark.sources.tob_datasource import register
    register(spark)
    df = spark.read.format("tob").load("/data/site/*.tob3")

Planning: the driver lists files and probes ONE header for the schema;
each file becomes an input partition, so executors decode files in
parallel (same parallelism shape as the binaryFile + mapInPandas path, but
with real pushed-down listing and a first-class reader identity).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from .tob import decode_tob_bytes, read_tob_meta, tob_schema


class TobFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _expand_paths(path: str) -> list[str]:
    if os.path.isdir(path):
        pattern = os.path.join(path, "*")
    else:
        pattern = path
    return sorted(p for p in _glob.glob(pattern) if os.path.isfile(p))


class TobReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._paths = _expand_paths(options["path"])

    def partitions(self):
        return [TobFilePartition(p) for p in self._paths]

    def read(self, partition: TobFilePartition):
        with open(partition.path, "rb") as fh:
            pdf = decode_tob_bytes(fh.read())
        cols = [f.name for f in self._schema.fields]
        for row in pdf[cols].itertuples(index=False):
            yield tuple(
                v.to_pydatetime() if hasattr(v, "to_pydatetime") else v for v in row
            )


class TobDataSource(DataSource):
    """spark.read.format("tob") — schema probed from the first listed file."""

    @classmethod
    def name(cls) -> str:
        return "tob"

    def schema(self) -> str:
        paths = _expand_paths(self.options["path"])
        if not paths:
            raise ValueError(f"no TOB files match {self.options.get('path')!r}")
        return tob_schema(read_tob_meta(paths[0]))

    def reader(self, schema: StructType) -> TobReader:
        return TobReader(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(TobDataSource)
