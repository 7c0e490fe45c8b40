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
(access_mode is a no-op: every read goes to the published table). Writers
of a channel are serialized by a file lock and publish through a
crash-safe partition swap (store.OverwritePublisher.publish), so every
acknowledged write is durable. A read whose listed files a publish removed
lists again once, but readers are not isolated from a swap in progress:
one that lists mid-swap can miss a super-block being replaced. Dynamic
resample of off-base-resolution annotation cutouts is IMPLEMENTED via the
zoom operators (the reference raises NotImplemented, spatialdb.py:410-431).

Interactive requests start no Spark job: cutouts, tiles, writes and both
id queries read the pruned parquet files with pyarrow on the driver, work
on cuboid blocks as numpy arrays there, and writes stage through pyarrow
too. `get_ids_in_region` decodes the box's blobs
(`CuboidStore.ids_in_region`); `get_bounding_box` decodes only the
cuboids whose per-cuboid `ids` hold the id (`CuboidStore.id_bounds`).
`downsample` and the distributed paths stay Spark jobs. The off-base rule (`_resamples`): an annotation
read off base resolution whose pyramid is not `DOWNSAMPLED` resamples
base, and `get_ids_in_region` then answers from that resampled cutout;
`get_bounding_box` always reads the stored level.
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

    @staticmethod
    def _resamples(resource: Resource, resolution: int) -> bool:
        """Whether a read at `resolution` resamples base instead of reading
        the stored level: an annotation channel, off base resolution, whose
        pyramid is not built or is stale (`DOWNSAMPLED` not set)."""
        return not (
            resolution == resource.channel.base_resolution
            or resource.channel.is_image()
            or resource.channel.downsample_status == "DOWNSAMPLED"
        )

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
        parity; with no cache tier, cache/no_cache/raw read the same
        published table (not isolated from a write's swap in progress)."""
        del access_mode
        store = self._store(resource, iso)
        if not self._resamples(resource, resolution):
            return store.cutout(corner, extent, resolution, time_sample_range, filter_ids)
        # dynamic resample for annotation channels off base resolution
        # (reference raises NotImplemented here; we compose zoom operators)
        base = resource.channel.base_resolution
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
        """Sorted distinct non-zero ids in a box, as strings (reference:
        object.py:807-831); ids >= 2^63 come back wrapped ("-1" for
        2^64-1). `time_sample_range` None means every t. Where `cutout`
        resamples (`_resamples`), the ids are those of that resampled
        cutout, and None there covers the experiment's time samples."""
        if self._resamples(resource, resolution):
            t_range = time_sample_range or (0, resource.experiment.num_time_samples)
            arr = self.cutout(resource, corner, extent, resolution, t_range)
            ids = np.unique(arr[arr != 0].astype(np.int64))
        else:
            ids = self._store(resource).ids_in_region(
                corner, extent, resolution, time_sample_range
            )
        return {"ids": [str(i) for i in ids.tolist()]}

    def get_bounding_box(
        self, resource: Resource, resolution: int, obj_id: int, bb_type: str = "loose"
    ) -> dict | None:
        """Bounding box of an id over every t, or None if it is absent:
        "tight" is exact, "loose" rounds out to cuboid edges (reference:
        spatialdb.py:869-891). It always reads the stored level, so off
        base it sees the pyramid as last built, even where `cutout`
        resamples base."""
        box = self._store(resource).id_bounds(obj_id, resolution, loose=bb_type == "loose")
        if box is None:
            return None
        (x0, x1), (y0, y1), (z0, z1) = box
        # reference dict shape: {"x_range": [min, max+1], ...}
        return {
            "x_range": [x0, x1 + 1],
            "y_range": [y0, y1 + 1],
            "z_range": [z0, z1 + 1],
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
