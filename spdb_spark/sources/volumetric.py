"""Volumetric sources/sinks: get dense arrays in and out of the engine.

The reference ingests via its write-buffer API from numpy arrays; here the
equivalents are: .npy file ingest (driver-side load -> tiled write), voxel
CSV/JSON/parquet ingest with schema enforcement (distributed), and dense
.npy export of a cutout. At 100TB bulk ingest arrives as parquet/object
listings and goes through `ingest_voxel_files`, which never touches the
driver."""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spdb_spark.schema import VOXEL_SCHEMA
from spdb_spark.store import CuboidStore, _with_pgroup, writing


def ingest_npy(
    store: CuboidStore,
    npy_path: str,
    corner: Sequence[int],
    resolution: int = 0,
    time_sample_start: int = 0,
    mode: str = "overwrite",
) -> None:
    """Load a [z,y,x] or [t,z,y,x] .npy volume and merge it into the store."""
    data = np.load(npy_path)
    store.write_cuboid(
        data, corner, resolution=resolution,
        time_sample_start=time_sample_start, mode=mode,
    )


def export_npy(
    store: CuboidStore,
    npy_path: str,
    corner: Sequence[int],
    extent: Sequence[int],
    resolution: int = 0,
    time_sample_range: Sequence[int] | None = None,
) -> None:
    """Cutout -> dense .npy (driver assembly)."""
    np.save(npy_path, store.cutout(corner, extent, resolution, time_sample_range))


def read_voxel_files(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Distributed voxel ingest from parquet/csv/json files with the engine
    schema enforced (bad rows fail fast rather than corrupting the store)."""
    reader = spark.read.schema(VOXEL_SCHEMA)
    if fmt == "csv":
        return reader.option("header", "true").csv(path)
    if fmt == "json":
        return reader.json(path)
    return reader.parquet(path)


def ingest_voxel_files(
    store: CuboidStore,
    path: str,
    fmt: str = "parquet",
    resolution: int = 0,
) -> None:
    """Bulk distributed ingest: voxel files -> cuboid blobs -> store, without
    any driver materialization (the 100TB path; one shuffle keyed by cuboid)."""
    vox = (
        read_voxel_files(store.spark, path, fmt)
        .where(F.col("value") != 0)
        .withColumn("lookup_key", F.lit(store.lookup_key))
        .withColumn("resolution", F.lit(resolution))
    )
    new_blocks = _with_pgroup(store._voxels_to_blocks(vox, resolution))
    with writing(store.path):
        existing = store.blocks(resolution)
        merged = existing.join(
            new_blocks.select("t", "morton").distinct(), ["t", "morton"], "left_anti"
        ).unionByName(new_blocks)
        store._commit(merged, resolution)
