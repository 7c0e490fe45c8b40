"""CuboidStore: the block-table storage engine (spdb's SpatialDB re-expressed
on Spark + Parquet).

Layout: one parquet table partitioned by (lookup_key, resolution, pgroup),
one row per cuboid per time sample — (t, morton, x_idx, y_idx, z_idx, blob,
ids) with the blob a compressed [z,y,x] ndarray (codec.py) and ids its
distinct non-zero ids (64-bit channels; null otherwise). This is the Spark
analog of spdb's S3 object store keyed md5&lookup&res&t&morton
(object.py:338-363); Morton + the idx columns give space-filling locality
and min/max row-group pruning, and `pgroup = morton >> 12` (a 16x16x16
super-block of cuboids) is the physical partition unit: writes read and
rewrite ONLY the super-blocks they touch, so write cost tracks the write,
not the channel size (the plain-parquet stand-in for Delta MERGE file
granularity).

Write path parity (spatialdb.py:719-867): a dense merge per cuboid on the
driver, like the reads, with no Spark job. The stored blobs the box overlaps
are decoded, overlaid with non-zero-overwrite (overwriteDense.c), fill-only
(exceptionDense.c) or to_black erase (cube.py:264-291) semantics and packed;
the other rows of the touched super-blocks pass through undecoded, and
pyarrow stages each touched partition as one file (Delta/Iceberg MERGE INTO
in production; bulk writers stage through Spark). Writers of a table are
serialized by a file lock, and the rewrite is staged beside the table and
swapped in per partition without ever deleting the only copy
(`OverwritePublisher.publish`, `recover`): the reference's locked page-out
(state.py:332-380) in plain files.

Read path parity (spatialdb.py:360-717): box -> covering cuboid range filter
(partition+stats pruning). Interactive reads run no Spark job: `_fetch`
scans the pruned files with pyarrow.dataset on the driver, and a driver
thread pool decodes, crops and pastes each blob (Cube.add_data,
cube.py:87-106). `blocks`, `voxels` and `cutout_voxels` are the distributed
path over the same files. Absent cuboids are implicit zeros
(zero-suppression, spatialdb.py:571-585). Id queries run on the same
blocks: `ids_in_region` decodes and crops the box's blobs; `id_bounds`
reads `ids` first and decodes only the rows that hold the id (the
reference's per-cuboid id sets, object_indices.py:625-665, 730-769).
"""

from __future__ import annotations

import fcntl
import functools
import glob
import operator
import os
import shutil
import uuid
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from itertools import product
from urllib.parse import unquote

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

from spdb_spark.codec import (
    blocks_to_voxels,
    cuboid_ids,
    make_voxels_to_blocks,
    pack_array,
    unpack_array,
)
from spdb_spark.constants import CUBOID_X, CUBOID_Y, CUBOID_Z
from spdb_spark.morton import xyz_morton
from spdb_spark.schema import CUBOID_SCHEMA, VOXEL_SCHEMA

# Super-block granularity: morton >> 12 groups 4096 cuboids (a 16^3 grid)
# into one physical partition.
PGROUP_SHIFT = 12

# Driver decode pool for block reads: zlib releases the GIL, so decodes of
# separate blobs run in parallel on the cores this process may use.
_DECODE_THREADS = (
    len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1
)

# Spark's default spark.sql.files.openCostInBytes: a staged row group closes
# before it passes this many blob bytes, so a dense image cuboid is its own
# row group and small annotation cuboids share one.
_FILE_OPEN_COST = 4 << 20

# NOTE: StructType.add mutates in place — build the read schema by copy.
_READ_SCHEMA = StructType(
    list(CUBOID_SCHEMA.fields) + [StructField("pgroup", IntegerType(), True)]
)
# The columns of a partition file: the partition values live in its path.
_FILE_SCHEMA = to_arrow_schema(StructType(CUBOID_SCHEMA.fields[2:]))

# What Spark escapes as %XX in partition paths (escapePathName; not `&`)
_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset('"#%\'*/:=?[\\]^{\x7f')


def _cuboid_ranges(corner: Sequence[int], extent: Sequence[int]) -> list[range]:
    """x, y and z cuboid-index ranges covering a box."""
    return [
        range(c // n, (c + e - 1) // n + 1)
        for c, e, n in zip(corner, extent, (CUBOID_X, CUBOID_Y, CUBOID_Z))
    ]


def _overlap(
    corner: Sequence[int], extent: Sequence[int], idx: Sequence[int]
) -> tuple[tuple[slice, ...], tuple[slice, ...]]:
    """[z,y,x] slices of the overlap of a box with cuboid idx=(x,y,z)
    (cuboid-local, box-local)."""
    in_cuboid, in_box = [], []
    for c, e, i, n in zip(corner, extent, idx, (CUBOID_X, CUBOID_Y, CUBOID_Z)):
        lo, hi = max(c, i * n), min(c + e, (i + 1) * n)
        in_cuboid.append(slice(lo - i * n, hi - i * n))
        in_box.append(slice(lo - c, hi - c))
    return tuple(in_cuboid[::-1]), tuple(in_box[::-1])


def _merge(view: np.ndarray, piece: np.ndarray, mode: str) -> None:
    """Overlay `piece` onto the stored cuboid slice `view` in place, with the
    reference's dense merge semantics: overwriteDense.c, exceptionDense.c
    and the to_black erase (cube.py:264-291)."""
    if mode == "overwrite":
        np.copyto(view, piece, where=piece != 0)
    elif mode == "exception":
        np.copyto(view, piece, where=view == 0)
    elif mode == "to_black":
        view[piece == 1] = 0
    else:
        raise ValueError(f"bad mode {mode!r}")


def _on_pool(fn: Callable, items) -> list:
    """fn(item) for each item, on the driver decode pool."""
    with ThreadPoolExecutor(_DECODE_THREADS) as pool:
        return list(pool.map(fn, items))


def _with_pgroup(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "pgroup", F.shiftright(F.col("morton"), PGROUP_SHIFT).cast("int")
    )


def _escape(value: str) -> str:
    """A partition value as Spark names its directory (the inverse of the
    `unquote` in `_list_partition_dirs`)."""
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in value)


def _among(name: str, values) -> pc.Expression:
    """Dataset filter `name in values`, with the range that pyarrow needs
    to prune row groups by statistics (it does not for is_in)."""
    lo, hi = min(values), max(values)
    return (pc.field(name) >= lo) & (pc.field(name) <= hi) & pc.field(name).isin(list(values))


def _box_filter(col: Callable, corner, extent, time_sample_range):
    """Range predicate on x/y/z_idx (and t) of the cuboids covering a box,
    over `col`: F.col for a Spark scan, pc.field for the driver fetch."""
    ranges = list(zip(("x_idx", "y_idx", "z_idx"), _cuboid_ranges(corner, extent)))
    if time_sample_range is not None:
        ranges.append(("t", range(*time_sample_range)))
    terms = [(col(c) >= r.start) & (col(c) < r.stop) for c, r in ranges]
    return functools.reduce(operator.and_, terms)


def _list_partition_dirs(root: str) -> dict[tuple[str, int, int], str]:
    """Map (lookup_key, resolution, pgroup) -> partition directory under a
    Hive-layout parquet table root. Values are unescaped the way Spark
    escapes partition path names (%XX, same as URL quoting)."""
    out: dict[tuple[str, int, int], str] = {}
    pattern = os.path.join(glob.escape(root), "lookup_key=*", "resolution=*", "pgroup=*")
    for path in glob.glob(pattern):
        lk, res, pg = (unquote(d.split("=", 1)[1]) for d in path.split(os.sep)[-3:])
        out[(lk, int(res), int(pg))] = path
    return out


class OverwritePublisher:
    """Holder of the engine's one publish. `publish` stays a class attribute
    because perfbench's tracer wraps `OverwritePublisher.publish` by name;
    call it through the class."""

    @staticmethod
    def publish(
        table_path: str, stage_dir: str, touched: Sequence[tuple[str, int, int]] = ()
    ) -> None:
        """Swap each staged partition of `stage_dir` into the Hive-layout
        table at `table_path`, and drop each `touched` partition that
        staged no rows. No step deletes the only copy of a partition: the
        old one is renamed into `{table}.trash-<token>` first, the staged
        one is renamed in, and the trash is deleted last (after a rename
        to `.done` marks the publish complete). A crash in between leaves
        the old data in the trash for `recover`. Readers that list the
        table during a publish can see a partition briefly absent."""
        staged = _list_partition_dirs(stage_dir)
        table_dirs = _list_partition_dirs(table_path)
        trash_dir = f"{table_path}.trash-{uuid.uuid4().hex[:12]}"
        for key in sorted(set(staged) | set(touched)):
            src, dest = staged.get(key), table_dirs.get(key)
            if dest is not None:
                aside = os.path.join(trash_dir, os.path.relpath(dest, table_path))
                os.makedirs(os.path.dirname(aside), exist_ok=True)
                os.rename(dest, aside)
            if src is not None:
                dest = dest or os.path.join(table_path, os.path.relpath(src, stage_dir))
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(src, dest)
            elif dest is not None:
                # dropped: remove the lookup_key=/resolution= parents it
                # leaves empty (rmdir never removes a non-empty dir)
                for parent in (os.path.dirname(dest), os.path.dirname(os.path.dirname(dest))):
                    try:
                        os.rmdir(parent)
                    except OSError:
                        break
        if os.path.isdir(trash_dir):
            os.rename(trash_dir, f"{trash_dir}.done")
            shutil.rmtree(f"{trash_dir}.done")


def recover(table_path: str) -> None:
    """Finish or undo any interrupted publish of the table. A trash entry
    whose table partition is missing means the crash hit between the
    move-aside and the swap (or a drop): the trash copy is the only one,
    so it goes back. Otherwise the trash copy is superseded and is deleted,
    as is every `.done` trash. A write whose publish crashed may so end up
    applied to some super-blocks and not others; every merge mode is
    idempotent, so running it again converges."""
    for trash in glob.glob(f"{glob.escape(table_path)}.trash-*"):
        if not trash.endswith(".done"):
            table_dirs = _list_partition_dirs(table_path)
            for key, src in _list_partition_dirs(trash).items():
                if key not in table_dirs:
                    dest = os.path.join(table_path, os.path.relpath(src, trash))
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    os.rename(src, dest)
        shutil.rmtree(trash)


def stage_and_publish(
    table_path: str, stage: Callable[[str], None], touched: Sequence[tuple[str, int, int]] = ()
) -> None:
    """Rewrite (lookup_key, resolution, pgroup) partitions in two steps:
    (1) `stage(stage_dir)` writes them, Hive-partitioned, to a fresh
    directory beside the table, fully materialized before any table file
    moves, so the publish never recomputes from files it replaces; (2)
    `OverwritePublisher.publish` swaps them in and drops the `touched`
    partitions that staged no rows. Callers hold `writing(table_path)`."""
    stage_dir = f"{table_path}.stage-{uuid.uuid4().hex[:12]}"
    try:
        stage(stage_dir)
        OverwritePublisher.publish(table_path, stage_dir, touched)
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)


def spark_stage(rows: DataFrame) -> Callable[[str], None]:
    """Stage writer for `stage_and_publish`: Spark writes `rows` (with the
    partition columns) one file per task and partition."""
    return lambda stage_dir: rows.write.partitionBy(
        "lookup_key", "resolution", "pgroup"
    ).parquet(stage_dir)


def _arrow_stage(stage_dir: str, rows: pa.Table, lookup_key: str, resolution: int) -> None:
    """Stage writer for `stage_and_publish`: pyarrow writes each pgroup of
    the sorted `rows` as one snappy file in the directory Spark would name,
    closing a row group before it passes `_FILE_OPEN_COST` blob bytes."""
    pgroups = pc.shift_right(rows["morton"], PGROUP_SHIFT).to_numpy()
    sizes = pc.binary_length(rows["blob"]).to_numpy()
    stats = ["t", "morton", "x_idx", "y_idx", "z_idx"]  # not the blobs
    for pg in np.unique(pgroups):
        part = f"{stage_dir}/lookup_key={_escape(lookup_key)}/resolution={resolution}/pgroup={pg}"
        os.makedirs(part)
        with pq.ParquetWriter(f"{part}/part-{uuid.uuid4()}.snappy.parquet", _FILE_SCHEMA,
                              compression="snappy", write_statistics=stats) as out:
            group, nbytes = [], 0
            for i in np.flatnonzero(pgroups == pg):
                if group and nbytes + sizes[i] > _FILE_OPEN_COST:
                    out.write_table(rows.take(group))
                    group, nbytes = [], 0
                group.append(i)
                nbytes += sizes[i]
            out.write_table(rows.take(group))


@contextmanager
def writing(table_path: str):
    """Serialize the writers of one table: hold an exclusive flock on
    `{table}.lock` (opened per call, so threads of one process exclude
    each other too), then `recover`. The caller reads, merges, stages and
    publishes inside, so its merge starts from the last published state
    and no other writer publishes over it."""
    os.makedirs(os.path.dirname(table_path) or ".", exist_ok=True)
    with open(f"{table_path}.lock", "w") as lockf:
        fcntl.flock(lockf, fcntl.LOCK_EX)
        try:
            recover(table_path)
            yield
        finally:
            fcntl.flock(lockf, fcntl.LOCK_UN)


class CuboidStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        datatype: str = "uint8",
        lookup_key: str = "4&3&2",
    ):
        self.spark = spark
        self.path = path
        self.datatype = datatype
        self.lookup_key = lookup_key

    # -- helpers ------------------------------------------------------------

    def _exists(self) -> bool:
        return os.path.exists(self.path)

    def blocks(
        self, resolution: int = 0, pgroups: Sequence[int] | None = None
    ) -> DataFrame:
        """The block table for one resolution (schema: CUBOID_SCHEMA +
        pgroup). `pgroups` restricts the scan to those partitions (pruned
        at the file-listing level, never read)."""
        if not self._exists():
            # no partitions (not defaultParallelism empty ones), so a bulk
            # stage writes no empty tasks
            empty = self.spark.sparkContext.emptyRDD()
            return _with_pgroup(self.spark.createDataFrame(empty, CUBOID_SCHEMA))
        df = (
            self.spark.read.schema(_READ_SCHEMA)
            .option("basePath", self.path)
            .parquet(self.path)
            .where(
                (F.col("lookup_key") == self.lookup_key)
                & (F.col("resolution") == resolution)
            )
        )
        if pgroups is not None:
            df = df.where(F.col("pgroup").isin([int(g) for g in pgroups]))
        return df

    def voxels(self, resolution: int = 0) -> DataFrame:
        """Distributed voxel view (decoded, zero-suppressed)."""
        return self.blocks(resolution).mapInPandas(
            blocks_to_voxels, VOXEL_SCHEMA
        )

    # -- write path ---------------------------------------------------------

    def write_cuboid(
        self,
        data: np.ndarray,
        corner: Sequence[int],
        resolution: int = 0,
        time_sample_start: int = 0,
        mode: str = "overwrite",
    ) -> None:
        """THE write operator (reference: spatialdb.py:719-867): merge a
        [t,z,y,x] (or [z,y,x]) array into the store at `corner`. Modes:
        'overwrite' — non-zero input voxels overwrite (overwriteDense.c);
        'exception' — input lands only where store is 0 (exceptionDense.c);
        'to_black'  — store voxels erased where input == 1 (cube.py:264-291).

        Dense driver merge: the stored blobs of the cuboids the box covers
        are fetched and decoded (absent ones start as zero tiles; to_black
        skips them), the box slice is overlaid with `_merge`, and the results
        are packed on the decode pool. A cuboid that merges to all zeros is
        not stored. The other rows of the touched super-blocks pass through
        undecoded, and each touched partition is staged as one file."""
        if mode not in ("overwrite", "exception", "to_black"):
            raise ValueError(f"bad mode {mode!r}")
        data = np.asarray(data).astype(self.datatype, copy=False)
        if data.ndim == 3:
            data = data[None, ...]
        if data.ndim != 4:
            raise ValueError(f"expected [t,z,y,x] or [z,y,x], got {data.shape}")
        extent = data.shape[:0:-1]
        t0, t1 = time_sample_start, time_sample_start + data.shape[0]
        cuboids = {xyz_morton(*idx): idx for idx in product(*_cuboid_ranges(corner, extent))}

        def merge(t: int, morton: int, cube: np.ndarray) -> tuple:
            """Overlay the box slice at time t onto one cuboid and pack it
            (the row is None when the cuboid merges to all zeros)."""
            idx = cuboids[morton]
            in_cuboid, in_box = _overlap(corner, extent, idx)
            _merge(cube[in_cuboid], data[t - t0][in_box], mode)
            row = None
            if cube.any():
                values = (t, morton, *idx, pack_array(cube), cuboid_ids(cube))
                row = dict(zip(_FILE_SCHEMA.names, values))
            return (t, morton), row

        touched = sorted({m >> PGROUP_SHIFT for m in cuboids})
        hit = _box_filter(pc.field, corner, extent, (t0, t1))  # the (t, cuboids) merged
        with writing(self.path):
            stored = self._fetch(resolution, touched)
            merged = dict(self._each_block(
                stored.filter(hit),
                lambda r, arr: merge(r["t"], r["morton"], arr.copy()),
            ))
            if mode != "to_black":
                shape = (CUBOID_Z, CUBOID_Y, CUBOID_X)
                absent = [k for k in product(range(t0, t1), cuboids) if k not in merged]
                merged.update(_on_pool(lambda k: merge(*k, np.zeros(shape, self.datatype)), absent))
            new = pa.Table.from_pylist([r for r in merged.values() if r is not None], _FILE_SCHEMA)
            # (t, morton) order: each staged file holds a contiguous Morton run
            rows = pa.concat_tables([stored.filter(~hit), new])
            rows = rows.sort_by([("t", "ascending"), ("morton", "ascending")])
            keys = [(self.lookup_key, resolution, pg) for pg in touched]
            stage_and_publish(
                self.path, lambda d: _arrow_stage(d, rows, self.lookup_key, resolution), keys
            )

    def _voxels_to_blocks(self, voxels: DataFrame, resolution: int) -> DataFrame:
        kernel = make_voxels_to_blocks(self.datatype)
        with_idx = voxels.select(
            "lookup_key",
            "resolution",
            "t",
            "x",
            "y",
            "z",
            "value",
            F.floor(F.col("x") / CUBOID_X).cast("int").alias("x_idx"),
            F.floor(F.col("y") / CUBOID_Y).cast("int").alias("y_idx"),
            F.floor(F.col("z") / CUBOID_Z).cast("int").alias("z_idx"),
        )
        return with_idx.groupBy(
            "lookup_key", "resolution", "t", "x_idx", "y_idx", "z_idx"
        ).applyInPandas(kernel, CUBOID_SCHEMA)

    def _commit(
        self, blocks: DataFrame, resolution: int, touched: Sequence[int] = ()
    ) -> None:
        """Super-block rewrite of `blocks` through `stage_and_publish`,
        each staged file a (t, morton) run. `touched` lists the pgroups
        this write read and merged: one that staged no rows (an erase that
        emptied it) is dropped. Callers hold `writing(self.path)`."""
        keys = [(self.lookup_key, resolution, int(pg)) for pg in touched]
        stage_and_publish(self.path, spark_stage(blocks.sortWithinPartitions("t", "morton")), keys)

    def get_cubes(
        self, mortons: Sequence[int], t: int = 0, resolution: int = 0
    ) -> dict[int, np.ndarray]:
        """Fetch specific cuboids by Morton id, decoded and Morton-sorted
        (reference: SpatialDB.get_cubes/sort_cubes, spatialdb.py:120-185).
        Absent cuboids come back as zero cubes (zero-suppression)."""
        wanted = sorted(set(int(m) for m in mortons))
        if not wanted:
            return {}
        pgroups = sorted({m >> PGROUP_SHIFT for m in wanted})
        found = self._fetch(resolution, pgroups, (pc.field("t") == t) & _among("morton", wanted))
        out = dict(self._each_block(found, lambda r, arr: (r["morton"], arr)))
        shape = (CUBOID_Z, CUBOID_Y, CUBOID_X)
        return {m: out[m] if m in out else np.zeros(shape, self.datatype) for m in wanted}

    # -- maintenance ----------------------------------------------------------

    def compact(self, resolution: int = 0, blocks_per_file: int = 64) -> None:
        """Small-file compaction: rewrite each super-block partition into
        ~ceil(n/blocks_per_file) Morton-sorted files. Repeated incremental
        writes fragment partitions (one file per write); compaction restores
        the scan-friendly layout (the OPTIMIZE/ZORDER maintenance job of a
        real table format)."""
        with writing(self.path):
            blocks = self.blocks(resolution)
            n = blocks.count()
            if n == 0:
                return
            num_files = max(1, -(-n // blocks_per_file))
            self._commit(blocks.repartitionByRange(num_files, "pgroup", "morton", "t"), resolution)

    # -- resolution hierarchy ------------------------------------------------

    def build_pyramid(
        self,
        num_levels: int,
        channel_type: str = "image",
        method: str = "avg",
        isotropic: bool = False,
    ) -> None:
        """Materialize resolution levels 1..num_levels-1, each from the
        previous (reference: the downsample pipeline over addData.c /
        zoomData.c kernels). Image channels reduce 2x2 xy by average
        (method='avg') or stride pick (method='stride' == zoomOutData);
        annotation channels use the exact getAnnValue reduction. Each level
        is one job writing its own (lookup_key, resolution) partition."""
        from spdb_spark.operators import voxel as V

        with writing(self.path):
            for level in range(1, num_levels):
                vox = self.voxels(resolution=level - 1)
                if channel_type == "annotation":
                    down = V.downsample_annotation(vox, isotropic=isotropic)
                elif method == "stride":
                    down = V.downsample_image_stride(vox, factor=1)
                else:
                    down = V.downsample_image_avg(vox, factor=1).withColumn(
                        "value", F.col("value").cast("long")
                    )
                down = down.where(F.col("value") != 0).select(
                    F.lit(self.lookup_key).alias("lookup_key"),
                    F.lit(level).alias("resolution"),
                    "t",
                    "x",
                    "y",
                    "z",
                    "value",
                )
                blocks = _with_pgroup(self._voxels_to_blocks(down, level))
                # re-runs must drop super-blocks that no longer exist at this
                # level (same stale-partition class as an erasing write)
                prior = {
                    pg
                    for (lk, res, pg) in _list_partition_dirs(self.path)
                    if lk == self.lookup_key and res == level
                }
                self._commit(blocks, level, touched=sorted(prior))

    # -- read path ----------------------------------------------------------

    def _box_pgroups(
        self, corner: Sequence[int], extent: Sequence[int], cap: int = 256
    ) -> list[int] | None:
        """Super-block partitions covering a box, or None when the box is
        large enough that partition pruning stops paying (scan filters
        still prune via x/y/z_idx stats)."""
        xs, ys, zs = _cuboid_ranges(corner, extent)
        if len(xs) * len(ys) * len(zs) > 32768:
            return None
        groups = {xyz_morton(*idx) >> PGROUP_SHIFT for idx in product(xs, ys, zs)}
        return sorted(groups) if len(groups) <= cap else None

    def _box_blocks(
        self, corner: Sequence[int], extent: Sequence[int], resolution: int,
        time_sample_range: Sequence[int] | None, columns: Sequence[str],
    ) -> pa.Table:
        """`columns` of the block rows covering a box: pgroup partition
        pruning plus `_box_filter` (row-group stats pruning)."""
        where = _box_filter(pc.field, corner, extent, time_sample_range)
        return self._fetch(resolution, self._box_pgroups(corner, extent), where, columns)

    def _files(self, resolution: int, pgroups: Sequence[int] | None) -> list[str]:
        """The parquet files of one resolution in `pgroups` (None: all)."""
        return [
            f
            for (lk, res, pg), part in _list_partition_dirs(self.path).items()
            if (lk, res) == (self.lookup_key, resolution) and (pgroups is None or pg in pgroups)
            for f in glob.glob(os.path.join(glob.escape(part), "*.parquet"))
        ]

    def _fetch(
        self, resolution: int, pgroups: Sequence[int] | None = None,
        where: pc.Expression | None = None, columns: Sequence[str] | None = None,
    ) -> pa.Table:
        """THE interactive fetch: `columns` of one resolution's block rows
        matching `where`, scanned on the driver by pyarrow.dataset; `pgroups`
        prune the listing, `where` row groups by statistics. A publish can
        remove listed files before the read (after renaming the new ones
        in): the fetch then lists again, once."""
        for attempt in (0, 1):
            try:
                dataset = ds.dataset(self._files(resolution, pgroups), schema=_FILE_SCHEMA)
                return dataset.to_table(columns=columns, filter=where)
            except FileNotFoundError:
                if attempt:
                    raise

    @staticmethod
    def _each_block(rows: pa.Table, fn: Callable[[dict, np.ndarray], object]) -> list:
        """fn(row dict, decoded [z,y,x] blob) per row of a `_fetch`ed table,
        on the driver decode pool. Arrays live only inside `fn`, so a `fn`
        that consumes them keeps extra memory at about a cuboid per thread."""
        return _on_pool(lambda r: fn(r, unpack_array(r["blob"])), rows.to_pylist())

    def cutout_voxels(
        self,
        corner: Sequence[int],
        extent: Sequence[int],
        resolution: int = 0,
        time_sample_range: Sequence[int] | None = None,
        filter_ids: Sequence[int] | None = None,
    ) -> DataFrame:
        """Distributed cutout: pruned block scan -> executor decode to voxel
        rows -> exact box trim -> optional id filter. Returns the voxel
        DataFrame (no collect); dense reads use `cutout`."""
        (x0, y0, z0), (dx, dy, dz) = corner, extent
        blocks = self.blocks(resolution, pgroups=self._box_pgroups(corner, extent))
        blocks = blocks.where(_box_filter(F.col, corner, extent, time_sample_range))
        vox = blocks.mapInPandas(blocks_to_voxels, VOXEL_SCHEMA).where(
            (F.col("x") >= x0) & (F.col("x") < x0 + dx)
            & (F.col("y") >= y0) & (F.col("y") < y0 + dy)
            & (F.col("z") >= z0) & (F.col("z") < z0 + dz)
        )
        if filter_ids is not None:
            vox = vox.where(F.col("value").isin(list(filter_ids)))
        return vox

    def cutout(
        self,
        corner: Sequence[int],
        extent: Sequence[int],
        resolution: int = 0,
        time_sample_range: Sequence[int] | None = None,
        filter_ids: Sequence[int] | None = None,
    ) -> np.ndarray:
        """Dense cutout as a [t,z,y,x] ndarray, zeros for absent voxels (the
        Cube return of the reference). Block-level driver assembly: each
        pruned blob is decoded, cropped, id-filtered and pasted on the
        decode pool. `filter_ids` match in the int64 view, like the voxel
        DataFrame: ids >= 2^63 are passed in their wrapped form."""
        t0, t1 = time_sample_range or (0, 1)
        out = np.zeros((t1 - t0, *extent[::-1]), dtype=self.datatype)
        # ids outside int64 can never match the int64 view
        ids = None if filter_ids is None else np.array(
            [i for i in map(int, filter_ids) if -(2**63) <= i < 2**63], dtype=np.int64
        )

        def paste(r: dict, arr: np.ndarray) -> None:
            in_cuboid, in_box = _overlap(corner, extent, (r["x_idx"], r["y_idx"], r["z_idx"]))
            piece = arr[in_cuboid]
            # only non-zero voxels: all-zero pages of `out` stay untouched
            keep = piece != 0
            if ids is not None:
                keep &= np.isin(piece.astype(np.int64), ids)
            np.copyto(out[r["t"] - t0][in_box], piece, where=keep)

        cols = ["t", "x_idx", "y_idx", "z_idx", "blob"]
        self._each_block(self._box_blocks(corner, extent, resolution, (t0, t1), cols), paste)
        return out

    def ids_in_region(
        self,
        corner: Sequence[int],
        extent: Sequence[int],
        resolution: int = 0,
        time_sample_range: Sequence[int] | None = None,
    ) -> np.ndarray:
        """Sorted distinct non-zero ids in a box as int64, ids >= 2^63 in
        their wrapped form (the voxel DataFrame's view; reference:
        get_ids_in_region, object.py:778-831). Each pruned blob is decoded
        and cropped, and its unique non-zero values are taken on the decode
        pool. `time_sample_range` None means every t."""

        def unique(r: dict, arr: np.ndarray) -> np.ndarray:
            piece = arr[_overlap(corner, extent, (r["x_idx"], r["y_idx"], r["z_idx"]))[0]]
            return np.unique(piece[piece != 0]).astype(np.int64)

        cols = ["x_idx", "y_idx", "z_idx", "blob"]
        parts = self._each_block(
            self._box_blocks(corner, extent, resolution, time_sample_range, cols), unique
        )
        return np.unique(np.concatenate([np.empty(0, np.int64), *parts]))

    def id_bounds(
        self, obj_id: int, resolution: int = 0, loose: bool = False
    ) -> list[tuple[int, int]] | None:
        """[(x_min, x_max), (y_min, y_max), (z_min, z_max)] of the voxels
        equal to `obj_id` over every t, or None if there are none. The id
        matches in the int64 view, like `cutout`'s `filter_ids`. `ids` is
        read first; only the blobs whose `ids` hold the id (or are null)
        are fetched and decoded. `loose` rounds out to cuboid edges
        (reference: get_tight/loose_bounding_box, object_indices.py:373-623)."""
        obj_id = int(obj_id)
        if obj_id == 0 or not -(2**63) <= obj_id < 2**63:
            return None
        # the id as a stored voxel; one that does not map back (300 in a
        # uint8 channel) matches nothing
        value = np.array(obj_id, dtype=np.int64).astype(self.datatype)
        if int(value.astype(np.int64)) != obj_id:
            return None
        sizes = (CUBOID_X, CUBOID_Y, CUBOID_Z)

        def bounds(r: dict, arr: np.ndarray) -> list[tuple[int, int]] | None:
            hit = arr == value
            out = []
            # x, y, z in turn: reduce the [z,y,x] array over the other two axes
            for axis, i, n in zip((2, 1, 0), (r["x_idx"], r["y_idx"], r["z_idx"]), sizes):
                on = np.flatnonzero(hit.any(axis=tuple(a for a in range(3) if a != axis)))
                if not len(on):
                    return None
                lo = int(i) * n
                out.append((lo + int(on[0]), lo + int(on[-1])))
            return out

        keys = self._fetch(resolution, columns=["t", "morton", "ids"]).to_pylist()
        held = [(r["t"], r["morton"]) for r in keys if r["ids"] is None or obj_id in r["ids"]]
        if not held:
            return None
        where = functools.reduce(operator.or_, [
            (pc.field("t") == t) & _among("morton", [m for u, m in held if u == t])
            for t in {t for t, _ in held}
        ])
        pgroups = {m >> PGROUP_SHIFT for _, m in held}
        rows = self._fetch(resolution, pgroups, where, ["x_idx", "y_idx", "z_idx", "blob"])
        found = [b for b in self._each_block(rows, bounds) if b]
        if not found:
            return None
        box = [(min(b[a][0] for b in found), max(b[a][1] for b in found)) for a in range(3)]
        if loose:
            box = [(lo // n * n, (hi // n + 1) * n - 1) for (lo, hi), n in zip(box, sizes)]
        return box
