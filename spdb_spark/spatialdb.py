"""SpatialDB facade: the reference's top-level API
(spdb/spatialdb/spatialdb.py) re-expressed over CuboidStore + operators, so
a user of the reference can switch with the same call shapes.

Method parity (reference signature -> here):
- cutout(resource, corner, extent, resolution, time_sample_range,
  filter_ids, iso, access_mode)            spatialdb.py:360-717
- write_cuboid(resource, corner, resolution, cuboid_data,
  time_sample_start, iso, to_black)        spatialdb.py:719-867
- get_ids_in_region(resource, resolution, corner, extent, t_range)
                                           spatialdb.py:924-952
- get_bounding_box(resource, resolution, id, bb_type)
                                           spatialdb.py:869-891
- reserve_ids(resource, num_ids)           spatialdb.py:954-965
- downsample(resource, ...)                the external downsample pipeline

Differences (deliberate, documented): no cache/dirty-read machinery
(snapshot reads make access_mode a no-op), dynamic resample of
off-base-resolution annotation cutouts is IMPLEMENTED via the zoom
operators (the reference raises NotImplemented, spatialdb.py:410-431).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from spdb_spark.catalog import (
    Channel,
    Collection,
    CoordinateFrame,
    Experiment,
    Resource,
    reserve_ids as _reserve_ids,
)
from spdb_spark.store import CuboidStore


def make_resource(
    name: str = "ch1",
    ctype: str = "image",
    dtype: str = "uint8",
    levels: int = 3,
    extent: tuple[int, int, int] = (2048, 2048, 64),
    hierarchy_method: str = "anisotropic",
    lookup_key: str | None = None,
) -> Resource:
    """Convenience constructor for a single-channel Resource (the
    reference builds these from boss-layer JSON, resource_setup.py:1-97;
    this is the quick-start equivalent for library users)."""
    return Resource(
        Collection("col1"),
        Experiment(
            "exp1", num_hierarchy_levels=levels, hierarchy_method=hierarchy_method
        ),
        CoordinateFrame(
            "cf", 0, extent[0], 0, extent[1], 0, extent[2],
            x_voxel_size=4, y_voxel_size=4, z_voxel_size=35,
        ),
        Channel(name, ctype, dtype),
        lookup_key=lookup_key or f"1&1&{name}",
    )


class SpatialDB:
    def __init__(self, spark: SparkSession, root_path: str):
        self.spark = spark
        self.root_path = root_path
        self._stores: dict[str, CuboidStore] = {}

    def _store(self, resource: Resource, iso: bool = False) -> CuboidStore:
        """One block table per channel; isotropic variants live under a
        separate key like the reference's ISO key prefix (kvio.py:73-76)."""
        key = resource.lookup_key or resource.boss_key
        if iso:
            key = f"{key}&ISO"
        if key not in self._stores:
            safe = key.replace("&", "_")
            self._stores[key] = CuboidStore(
                self.spark,
                os.path.join(self.root_path, safe),
                datatype=resource.channel.datatype,
                lookup_key=key,
            )
        return self._stores[key]

    # -- reads ---------------------------------------------------------------

    def cutout(
        self,
        resource: Resource,
        corner: Sequence[int],
        extent: Sequence[int],
        resolution: int = 0,
        time_sample_range: Sequence[int] | None = None,
        filter_ids: Sequence[int] | None = None,
        iso: bool = False,
        access_mode: str = "cache",
    ) -> np.ndarray:
        """Dense [t,z,y,x] box read. access_mode accepted for signature
        parity; snapshot reads make cache/no_cache/raw identical."""
        del access_mode
        store = self._store(resource, iso)
        base = resource.channel.base_resolution
        if (
            resolution == base
            or resource.channel.is_image()
            or resource.channel.downsample_status == "DOWNSAMPLED"
        ):
            return store.cutout(corner, extent, resolution, time_sample_range, filter_ids)
        # dynamic resample for annotation channels off base resolution
        # (reference raises NotImplemented here; we compose zoom operators)
        factor = resolution - base
        if factor > 0:
            big_corner = [c << factor for c in corner[:2]] + [corner[2]]
            big_extent = [e << factor for e in extent[:2]] + [extent[2]]
            arr = store.cutout(big_corner, big_extent, base, time_sample_range, filter_ids)
            return arr[:, :, :: 2**factor, :: 2**factor]  # stride pick (zoomOutData)
        factor = -factor
        small_corner = [corner[0] >> factor, corner[1] >> factor, corner[2]]
        # every base cell the box touches, counted from the corner's cell
        small_extent = [
            ((c + e - 1) >> factor) - (c >> factor) + 1
            for c, e in zip(corner[:2], extent[:2])
        ] + [extent[2]]
        arr = store.cutout(small_corner, small_extent, base, time_sample_range, filter_ids)
        rep = arr.repeat(2**factor, axis=3).repeat(2**factor, axis=2)  # zoomInData
        ox = corner[0] - (small_corner[0] << factor)
        oy = corner[1] - (small_corner[1] << factor)
        return rep[:, :, oy : oy + extent[1], ox : ox + extent[0]]

    def cutout_voxels(self, resource: Resource, *args, iso: bool = False, **kwargs) -> DataFrame:
        """Distributed cutout (voxel DataFrame; no driver assembly)."""
        return self._store(resource, iso).cutout_voxels(*args, **kwargs)

    # -- writes --------------------------------------------------------------

    def write_cuboid(
        self,
        resource: Resource,
        corner: Sequence[int],
        resolution: int,
        cuboid_data: np.ndarray,
        time_sample_start: int = 0,
        iso: bool = False,
        to_black: bool = False,
    ) -> None:
        base = resource.channel.base_resolution
        if resolution not in (base, base + 1):
            # reference guard spatialdb.py:746-752
            raise ValueError(
                f"writes must target base resolution {base} (or {base + 1}), got {resolution}"
            )
        if resource.channel.downsample_status == "DOWNSAMPLED":
            # the stored pyramid no longer matches the base level
            resource.channel.downsample_status = "NOT_DOWNSAMPLED"
            self.register(resource)
        self._store(resource, iso).write_cuboid(
            cuboid_data,
            corner,
            resolution=resolution,
            time_sample_start=time_sample_start,
            mode="to_black" if to_black else "overwrite",
        )

    # -- id queries ----------------------------------------------------------

    def get_ids_in_region(
        self,
        resource: Resource,
        resolution: int,
        corner: Sequence[int],
        extent: Sequence[int],
        time_sample_range: Sequence[int] | None = None,
    ) -> dict:
        from spdb_spark.operators import voxel as V

        ids = (
            V.ids_in_region(
                self._store(resource).voxels(resolution), corner, extent, time_sample_range
            )
            .orderBy("id")
            .collect()
        )
        # reference returns string ids (object.py:807-831)
        return {"ids": [str(r.id) for r in ids]}

    def get_bounding_box(
        self, resource: Resource, resolution: int, obj_id: int, bb_type: str = "loose"
    ) -> dict | None:
        from spdb_spark.operators import voxel as V

        vox = self._store(resource).voxels(resolution)
        fn = V.loose_bounding_box if bb_type == "loose" else V.tight_bounding_box
        row = fn(vox, obj_id).collect()[0]
        if row.x_min is None:
            return None
        # reference dict shape: {"x_range": [min, max+1], ...}
        return {
            "x_range": [row.x_min, row.x_max + 1],
            "y_range": [row.y_min, row.y_max + 1],
            "z_range": [row.z_min, row.z_max + 1],
            "t_range": [0, 1],
        }

    def reserve_ids(self, resource: Resource, num_ids: int) -> np.ndarray:
        key = resource.lookup_key or resource.boss_key
        start, stop = _reserve_ids(
            self.spark, os.path.join(self.root_path, "id_counters.json"), key, num_ids
        )
        return np.arange(start, stop, dtype=np.uint64)

    # -- rendering -----------------------------------------------------------

    def xy_image(
        self,
        resource: Resource,
        corner: Sequence[int],
        extent: Sequence[int],
        resolution: int = 0,
        z_index: int = 0,
        t_index: int = 0,
    ) -> bytes:
        """PNG of one XY plane of a cutout — the reference's
        `cube.xy_image()` (imagecube.py:104-117, annocube.py:103-160)
        surfaced on the facade: image channels render grayscale at the
        channel bit depth, annotation channels render RGBA false color.
        `corner`/`extent` are (x, y) of the plane; z_index/t_index pick
        the section."""
        from spdb_spark.operators.render import false_color, png_encode

        (x0, y0), (dx, dy) = tuple(corner[:2]), tuple(extent[:2])
        arr = self.cutout(
            resource,
            (x0, y0, z_index),
            (dx, dy, 1),
            resolution,
            (t_index, t_index + 1),
        )[0, 0]
        if resource.channel.is_image():
            return png_encode(arr.astype(resource.get_numpy_data_type()))
        return png_encode(false_color(arr.astype(np.uint64)))

    def register(self, resource: Resource) -> None:
        """Persist a resource to the on-disk channel registry (reference:
        channel state lives on Django-backed resources, resource.py:246-259;
        here the registry under root_path/catalog is the system-of-record)."""
        from spdb_spark.catalog import save_resource

        save_resource(self.root_path, resource)

    def load_resource(self, lookup_key: str) -> Resource | None:
        from spdb_spark.catalog import load_resource

        return load_resource(self.root_path, lookup_key)

    def catalog(self) -> DataFrame:
        """All registered channels as the queryable catalog DataFrame."""
        from spdb_spark.catalog import catalog_df, list_resources

        return catalog_df(self.spark, list_resources(self.root_path))

    # -- hierarchy -----------------------------------------------------------

    def downsample(self, resource: Resource, iso: bool = False) -> None:
        """Materialize the full resolution pyramid for a channel. The
        status transition is written through the durable registry, not
        just the in-memory resource — a restarted session sees
        DOWNSAMPLED (reference parity: resource.py:246-259 tracks it on
        the persisted channel)."""
        store = self._store(resource, iso)
        store.build_pyramid(
            resource.experiment.num_hierarchy_levels,
            channel_type=resource.channel.type,
            isotropic=iso or resource.experiment.hierarchy_method == "isotropic",
        )
        resource.channel.downsample_status = "DOWNSAMPLED"
        self.register(resource)
