"""Block-level dense cutout: `CuboidStore.cutout` decodes, crops and pastes
cuboid blobs on the driver. It must agree with the distributed voxel path
(`cutout_voxels`) and with the numpy arrays that were written, and it must
never decode to voxel rows. `write_cuboid` merges on the same blocks, and
the id queries (`ids_in_region`, `id_bounds`) answer from them; they must
never decode to voxel rows either, and must agree with `operators.voxel`.

The data is written once per module: per channel dtype, two time samples
(t=0 and t=2; t=1 is never written) of a sparse random volume spanning
cuboids x_idx 15..16, so the region crosses a super-block (pgroup)
boundary as well as cuboid boundaries in x, y and z."""

import os
import sys

import numpy as np
import pytest

import spdb_spark.store as store_mod
from spdb_spark.codec import unpack_array
from spdb_spark.constants import CUBOID_X
from spdb_spark.operators import voxel as V
from spdb_spark.spatialdb import SpatialDB, make_resource
from spdb_spark.store import CuboidStore

DTYPES = ("uint8", "uint16", "uint64")
WRITE_CORNER = (16 * CUBOID_X - 20, 512 - 20, 16 - 12)  # x_idx 15|16 is a pgroup edge
WRITE_SHAPE = (24, 40, 40)  # [z, y, x]
WRITTEN_T = (0, 2)
# unaligned boxes: the first also covers absent cuboids (x_idx 14, z_idx 2)
BOXES = [
    ((15 * CUBOID_X - 100, 481, 3), (CUBOID_X + 130, 37, 37)),
    ((WRITE_CORNER[0] + 7, WRITE_CORNER[1] + 3, WRITE_CORNER[2] + 5), (29, 33, 17)),
]
# a box that touches only absent cuboids
EMPTY_BOX = ((40 * CUBOID_X + 1, 3, 1), (30, 20, 10))


def _volume(dtype: str, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    # uint8/uint16 never hold their max value: it is the absent filter id
    vals = rng.integers(1, np.iinfo(dtype).max, size=WRITE_SHAPE, dtype=dtype)
    vals[rng.random(WRITE_SHAPE) < 0.7] = 0
    if dtype == "uint64":
        vals[0, 0, 0] = np.uint64(2**64 - 1)  # wraps to -1 in the int64 view
    return vals


@pytest.fixture(scope="module")
def channels(spark, tmp_path_factory):
    """dtype -> (store, {t: written [z,y,x] volume})."""
    root = tmp_path_factory.mktemp("blocks")
    out = {}
    for i, dtype in enumerate(DTYPES):
        st = CuboidStore(spark, str(root / dtype), datatype=dtype)
        vols = {t: _volume(dtype, 10 * i + t) for t in WRITTEN_T}
        st.write_cuboid(np.stack([vols[0]]), WRITE_CORNER, time_sample_start=0)
        st.write_cuboid(np.stack([vols[2]]), WRITE_CORNER, time_sample_start=2)
        out[dtype] = (st, vols)
    return out


def _expected(vols, dtype, corner, extent, t_range, filter_ids=None):
    """Dense [t,z,y,x] truth for a box, from the written numpy volumes."""
    t0, t1 = t_range
    full = np.zeros((t1 - t0, *extent[::-1]), dtype=dtype)
    lo = [max(c, w) for c, w in zip(corner, WRITE_CORNER)]
    hi = [min(c + e, w + s) for c, e, w, s in zip(corner, extent, WRITE_CORNER, WRITE_SHAPE[::-1])]
    if all(a < b for a, b in zip(lo, hi)):
        for t, vol in vols.items():
            if not t0 <= t < t1:
                continue
            src = vol[tuple(slice(a - w, b - w) for a, b, w in zip(lo, hi, WRITE_CORNER))[::-1]]
            dst = tuple(slice(a - c, b - c) for a, b, c in zip(lo, hi, corner))[::-1]
            full[t - t0][dst] = src
    if filter_ids is not None:
        keep = np.isin(full.astype(np.int64), np.array(filter_ids, dtype=np.int64))
        full = np.where(keep, full, 0).astype(dtype)
    return full


def _from_voxels(st, dtype, corner, extent, t_range, filter_ids=None):
    """The same box assembled from the distributed voxel path."""
    vox = st.cutout_voxels(corner, extent, 0, t_range, filter_ids).toPandas()
    out = np.zeros((t_range[1] - t_range[0], *extent[::-1]), dtype=dtype)
    if not len(vox):
        return out
    out[
        vox["t"].to_numpy() - t_range[0],
        vox["z"].to_numpy() - corner[2],
        vox["y"].to_numpy() - corner[1],
        vox["x"].to_numpy() - corner[0],
    ] = vox["value"].to_numpy().astype(dtype)
    return out


def test_boxes_cross_a_pgroup_boundary(channels):
    st = channels["uint8"][0]
    assert [len(st._box_pgroups(*box)) for box in BOXES] == [2, 2]


@pytest.mark.parametrize("dtype", DTYPES)
@pytest.mark.parametrize("box", BOXES, ids=["absent_cuboids", "inner"])
def test_dense_matches_voxel_path_and_truth(channels, dtype, box):
    st, vols = channels[dtype]
    corner, extent = box
    t_range = (0, 3)  # t=1 was never written
    dense = st.cutout(corner, extent, time_sample_range=t_range)
    assert dense.dtype == np.dtype(dtype)
    assert dense.shape == (3, *extent[::-1])
    truth = _expected(vols, dtype, corner, extent, t_range)
    assert truth.any() and not truth[1].any()
    np.testing.assert_array_equal(dense, truth)
    np.testing.assert_array_equal(dense, _from_voxels(st, dtype, corner, extent, t_range))


@pytest.mark.parametrize("dtype", DTYPES)
def test_filter_ids_match_voxel_path(channels, dtype):
    st, vols = channels[dtype]
    corner, extent = BOXES[0]
    t_range = (0, 3)
    present = np.unique(vols[2][vols[2] != 0])[:3].astype(np.int64).tolist()
    if dtype == "uint64":
        present.append(-1)  # wrapped form of 2**64 - 1
    absent = [12345] if dtype == "uint64" else [int(np.iinfo(dtype).max)]
    written = np.concatenate([v.ravel() for v in vols.values()]).astype(np.int64)
    assert not np.isin(written, absent).any()
    for ids in (present, absent, []):
        dense = st.cutout(corner, extent, time_sample_range=t_range, filter_ids=ids)
        np.testing.assert_array_equal(dense, _expected(vols, dtype, corner, extent, t_range, ids))
        np.testing.assert_array_equal(
            dense, _from_voxels(st, dtype, corner, extent, t_range, ids)
        )
    kept = st.cutout(corner, extent, time_sample_range=t_range, filter_ids=present)
    assert kept.any()
    if dtype == "uint64":
        assert (kept == np.uint64(2**64 - 1)).sum() == len(WRITTEN_T)


@pytest.mark.parametrize("dtype", DTYPES)
def test_absent_only_box_and_missing_time_step(channels, dtype):
    st, _ = channels[dtype]
    out = st.cutout(*EMPTY_BOX, time_sample_range=(0, 3))
    assert out.shape == (3, 10, 20, 30) and out.dtype == np.dtype(dtype) and not out.any()
    corner, extent = BOXES[1]
    assert not st.cutout(corner, extent, time_sample_range=(1, 2)).any()


def test_concurrent_pastes_lose_no_block(channels):
    """Decode-pool workers paste into one shared output array; forcing
    frequent thread switches must not drop or mix up any block."""
    st, vols = channels["uint8"]
    corner, extent = BOXES[0]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(3):
            out = st.cutout(corner, extent, time_sample_range=(0, 3))
            np.testing.assert_array_equal(out, _expected(vols, "uint8", corner, extent, (0, 3)))
    finally:
        sys.setswitchinterval(old)


def test_dense_reads_never_decode_to_voxel_rows(channels, spark, tmp_path, monkeypatch):
    from spdb_spark.operators.render import png_decode

    sdb = SpatialDB(spark, str(tmp_path / "sdb"))
    r = make_resource("guard", "image", "uint8")
    img = np.random.default_rng(5).integers(1, 250, size=(16, 64, 96)).astype("uint8")
    sdb.write_cuboid(r, (500, 0, 0), 0, img)  # spans x_idx 0|1
    ra = make_resource("guard_anno", "annotation", "uint64")
    labels = np.zeros((16, 64, 96), dtype="uint64")
    labels[3:9, 10:20, 2:30] = 7  # x 502..529 crosses x_idx 0|1
    labels[12, 40, 90] = 2**64 - 1
    sdb.write_cuboid(ra, (500, 0, 0), 0, labels)

    def boom(*args, **kwargs):
        raise AssertionError("dense read decoded to voxel rows")

    monkeypatch.setattr(store_mod, "blocks_to_voxels", boom)
    st, vols = channels["uint16"]
    corner, extent = BOXES[0]
    np.testing.assert_array_equal(
        st.cutout(corner, extent, time_sample_range=(0, 3), filter_ids=[]),
        np.zeros((3, *extent[::-1]), dtype="uint16"),
    )
    np.testing.assert_array_equal(
        st.cutout(corner, extent, time_sample_range=(0, 3)),
        _expected(vols, "uint16", corner, extent, (0, 3)),
    )
    png = sdb.xy_image(r, (510, 3), (60, 50), z_index=7)
    np.testing.assert_array_equal(png_decode(png), img[7, 3:53, 10:70])
    # id queries on an annotation channel
    assert sdb.get_ids_in_region(ra, 0, (505, 0, 0), (100, 64, 16)) == {"ids": ["-1", "7"]}
    assert sdb.get_ids_in_region(ra, 0, (505, 0, 0), (10, 64, 16)) == {"ids": ["7"]}
    assert sdb.get_bounding_box(ra, 0, 7, "tight") == {
        "x_range": [502, 530], "y_range": [10, 20], "z_range": [3, 9], "t_range": [0, 1],
    }
    assert sdb.get_bounding_box(ra, 0, 7, "loose") == {
        "x_range": [0, 2 * CUBOID_X], "y_range": [0, 512], "z_range": [0, 16], "t_range": [0, 1],
    }
    bbox = sdb.get_bounding_box(ra, 0, -1, "tight")
    assert bbox["x_range"] == [590, 591] and type(bbox["x_range"][0]) is int

    # writes in every merge mode, against the same merges done in numpy
    wst = CuboidStore(spark, str(tmp_path / "writes"), datatype="uint16")
    origin = (CUBOID_X - 16, 0, 8)  # the box crosses x_idx 0|1 and z_idx 0|1
    truth = np.zeros((16, 8, 32), dtype="uint16")  # [z,y,x] from origin
    rng = np.random.default_rng(6)
    for mode, (x, y, z), (dz, dy, dx) in (
        ("overwrite", (0, 0, 0), truth.shape),
        ("overwrite", (5, 1, 3), (9, 6, 20)),
        ("exception", (2, 0, 6), (10, 8, 25)),
        ("to_black", (0, 2, 1), (14, 5, 30)),
    ):
        data = rng.integers(0, 4, size=(dz, dy, dx)).astype("uint16")  # 0, erase 1, keep 2
        wst.write_cuboid(data, (origin[0] + x, origin[1] + y, origin[2] + z), mode=mode)
        view = truth[z : z + dz, y : y + dy, x : x + dx]
        where = {"overwrite": data != 0, "exception": view == 0, "to_black": data == 1}[mode]
        view[where] = 0 if mode == "to_black" else data[where]
        np.testing.assert_array_equal(wst.cutout(origin, truth.shape[::-1])[0], truth)


def _ids_truth(vols, dtype, corner, extent) -> list[int]:
    box = _expected(vols, dtype, corner, extent, (0, 3))
    return np.unique(box[box != 0].astype(np.int64)).tolist()


@pytest.mark.parametrize("dtype", DTYPES)
@pytest.mark.parametrize("box", BOXES, ids=["absent_cuboids", "inner"])
def test_ids_in_region_matches_voxel_path_and_truth(channels, dtype, box):
    st, vols = channels[dtype]
    corner, extent = box
    truth = _ids_truth(vols, dtype, corner, extent)
    assert truth
    if dtype == "uint64" and box is BOXES[0]:
        assert -1 in truth and truth[0] < -1  # wrapped ids sort as signed
    for t_range in ((0, 3), None):
        ids = st.ids_in_region(corner, extent, 0, t_range)
        assert ids.dtype == np.int64 and ids.tolist() == truth
        by_voxels = V.ids_in_region(st.voxels(), corner, extent, t_range).orderBy("id")
        assert [r.id for r in by_voxels.collect()] == truth
    assert st.ids_in_region(corner, extent, 0, (1, 2)).tolist() == []  # t=1 never written
    assert st.ids_in_region(*EMPTY_BOX).tolist() == []


@pytest.mark.parametrize("dtype", DTYPES)
def test_id_bounds_match_voxel_path(channels, dtype):
    st, vols = channels[dtype]
    written = {t: set(v[v != 0].astype(np.int64).tolist()) for t, v in vols.items()}
    cases = {
        "present": min(written[0]),
        "wrapped": -1,  # 2**64 - 1 in the int64 view, written only to uint64
        "absent": 12345 if dtype == "uint64" else int(np.iinfo(dtype).max),
        "unwrapped": 2**64 - 1,  # outside int64: never matches
    }
    only_t2 = sorted(written[2] - written[0])
    if only_t2:
        cases["only_t2"] = only_t2[0]
    assert cases["absent"] not in written[0] | written[2]
    vox = st.voxels().cache()
    try:
        for name, obj_id in cases.items():
            for loose, fn in ((False, V.tight_bounding_box), (True, V.loose_bounding_box)):
                got = st.id_bounds(obj_id, 0, loose=loose)
                if name == "unwrapped":
                    assert got is None
                    continue
                row = fn(vox, obj_id).collect()[0]
                want = None if row.x_min is None else [
                    (row.x_min, row.x_max), (row.y_min, row.y_max), (row.z_min, row.z_max)
                ]
                assert got == want, (name, loose)
                assert (want is None) == (name == "absent" or (name == "wrapped" and dtype != "uint64"))
    finally:
        vox.unpersist()


def test_ids_column_holds_each_blobs_ids(channels, monkeypatch):
    rows = channels["uint64"][0].blocks().select("x_idx", "y_idx", "z_idx", "blob", "ids").collect()
    assert len(rows) == 16  # 2x2x2 cuboids at t=0 and t=2
    for r in rows:
        arr = unpack_array(r.blob)
        assert r.ids == np.unique(arr[arr != 0].view(np.int64)).tolist()
    for dtype in ("uint8", "uint16"):
        assert {r.ids for r in channels[dtype][0].blocks().select("ids").collect()} == {None}

    # a bbox decodes only the cuboids whose ids hold the id
    obj_id = rows[0].ids[0]
    holders = [r for r in rows if obj_id in r.ids]
    assert 0 < len(holders) < len(rows)
    decoded = []

    def counting(blob):
        decoded.append(blob)
        return unpack_array(blob)

    monkeypatch.setattr(store_mod, "unpack_array", counting)
    assert channels["uint64"][0].id_bounds(obj_id) is not None
    assert sorted(decoded) == sorted(r.blob for r in holders)


def _drop_ids_column(table_path: str, pgroup: int) -> None:
    """Rewrite one partition's parquet files as a table written before the
    `ids` column existed (dropping any Hadoop checksum sidecars, which the
    new bytes no longer match; files staged by pyarrow have none)."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(f"{table_path}/lookup_key=*/resolution=0/pgroup={pgroup}/*.parquet")
    assert files
    for f in files:
        table = pq.read_table(f)
        pq.write_table(table.drop(["ids"]), f)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        assert "ids" not in pq.read_schema(f).names


def test_table_without_ids_column_still_answers(spark, tmp_path):
    from spdb_spark.morton import xyz_morton

    st = CuboidStore(spark, str(tmp_path / "old"), datatype="uint64")
    vol = np.zeros((8, 20, 40), dtype="uint64")  # [z,y,x] at x 16*CUBOID_X-20: pgroups 0|1
    vol[1:3, 2:5, 3:30] = 5
    vol[6, 10, 25] = 2**64 - 1
    corner, extent = (16 * CUBOID_X - 20, 0, 0), (40, 20, 8)
    st.write_cuboid(vol, corner)
    old_pgroup = xyz_morton(15, 0, 0) >> store_mod.PGROUP_SHIFT
    _drop_ids_column(st.path, old_pgroup)
    by_pgroup = {r.pgroup: r.ids for r in st.blocks().collect()}
    assert by_pgroup[old_pgroup] is None and by_pgroup[old_pgroup + 1] == [-1, 5]

    assert st.ids_in_region(corner, extent).tolist() == [-1, 5]
    np.testing.assert_array_equal(st.cutout(corner, extent)[0], vol)
    x0 = corner[0]
    assert st.id_bounds(5) == [(x0 + 3, x0 + 29), (2, 4), (1, 2)]
    assert st.id_bounds(-1) == [(x0 + 25, x0 + 25), (10, 10), (6, 6)]
    assert st.id_bounds(6) is None

    # the next write gives the rows it touches their ids
    st.write_cuboid(np.full((1, 1, 1), 6, dtype="uint64"), (x0, 0, 0))
    rows = {r.x_idx: r.ids for r in st.blocks().collect()}
    assert rows == {15: [5, 6], 16: [-1, 5]}
    assert st.id_bounds(6) == [(x0, x0), (0, 0), (0, 0)]


def test_pyramid_levels_carry_ids(spark, tmp_path):
    st = CuboidStore(spark, str(tmp_path / "pyr"), datatype="uint64")
    vol = np.zeros((4, 16, 1100), dtype="uint64")  # x_idx 0..2 at base, 0..1 at level 1
    vol[0, 0:4, 0:600] = 3
    vol[2, 8:12, 1030:1100] = 2**63 + 4
    st.write_cuboid(vol, (0, 0, 0))
    st.build_pyramid(2, channel_type="annotation")
    rows = st.blocks(1).select("x_idx", "blob", "ids").collect()
    assert sorted(r.x_idx for r in rows) == [0, 1]
    for r in rows:
        arr = unpack_array(r.blob)
        assert r.ids == np.unique(arr[arr != 0].view(np.int64)).tolist()
    assert {r.x_idx: r.ids for r in rows} == {0: [3], 1: [-(2**63) + 4]}


def test_emptied_and_all_zero_cuboids_store_no_rows(spark, tmp_path):
    from spdb_spark.morton import xyz_morton

    st = CuboidStore(spark, str(tmp_path / "blocks"), datatype="uint64")
    a = np.zeros((4, 8, 8), dtype="uint64")
    a[1, 2, 3] = 2**63 + 1
    b = np.full((4, 8, 8), 9, dtype="uint64")
    st.write_cuboid(a, (0, 0, 0))
    st.write_cuboid(b, (CUBOID_X, 0, 0))  # neighbour cuboid, same pgroup
    assert st.blocks().count() == 2
    # a to_black erase that empties one cuboid drops its row
    st.write_cuboid(np.ones_like(a), (0, 0, 0), mode="to_black")
    assert [r.morton for r in st.blocks().collect()] == [xyz_morton(1, 0, 0)]
    assert not st.cutout((0, 0, 0), (8, 8, 4)).any()
    np.testing.assert_array_equal(st.cutout((CUBOID_X, 0, 0), (8, 8, 4))[0], b)
    # an all-zero overwrite into an empty region stores nothing
    st.write_cuboid(np.zeros_like(a), (5 * CUBOID_X, 0, 0))
    assert st.blocks().count() == 1
    with pytest.raises(ValueError):
        st.write_cuboid(a, (0, 0, 0), mode="replace")
    assert st.blocks().count() == 1


def test_interactive_requests_run_no_spark_job(channels, spark):
    """Cutouts, tiles, id queries and writes read and stage through pyarrow
    on the driver: none of them starts a Spark job."""
    st, vols = channels["uint64"]
    sdb = SpatialDB(spark, os.path.dirname(st.path))
    r = make_resource("nojob", "annotation", "uint64", lookup_key=st.lookup_key)
    sdb._stores[st.lookup_key] = st
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    corner, extent = BOXES[0]
    obj_id = int(vols[0][(vols[0] != 0) & (vols[0] < 2**63)][0])
    requests = {
        "cutout": lambda: sdb.cutout(r, corner, extent, 0, (0, 3), filter_ids=[obj_id]),
        "xy_image": lambda: sdb.xy_image(r, corner[:2], extent[:2], 0, z_index=corner[2] + 3),
        "get_ids_in_region": lambda: sdb.get_ids_in_region(r, 0, corner, extent),
        "get_bounding_box": lambda: sdb.get_bounding_box(r, 0, obj_id, "tight")["x_range"],
        # rewrites the fixture's own t=0 data: the channel does not change
        "write_cuboid": lambda: sdb.write_cuboid(r, WRITE_CORNER, 0, vols[0]),
    }
    try:
        for name, request in requests.items():
            group = f"nojob-{name}"
            sc.setJobGroup(group, name)
            request()
            assert list(tracker.getJobIdsForGroup(group)) == [], name
        # the tracker does see a job run in a group
        sc.setJobGroup("nojob-probe", "probe")
        spark.range(1).count()
        assert list(tracker.getJobIdsForGroup("nojob-probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    np.testing.assert_array_equal(
        st.cutout(corner, extent, time_sample_range=(0, 3)),
        _expected(vols, "uint64", corner, extent, (0, 3)),
    )


def test_fetch_relists_a_vanished_file_once(channels, monkeypatch):
    """A publish between the fetch's listing and its read removes listed
    files (after renaming the new ones in): the fetch lists again."""
    st, vols = channels["uint16"]
    stale = st._files(0, None)
    st.write_cuboid(np.stack([vols[0]]), WRITE_CORNER, time_sample_start=0)  # same data
    assert not any(map(os.path.exists, stale))
    listings = []
    real = CuboidStore._files

    def listing(self, resolution, pgroups):
        listings.append(stale if not listings else real(self, resolution, pgroups))
        return listings[-1]

    monkeypatch.setattr(CuboidStore, "_files", listing)
    corner, extent = BOXES[0]
    np.testing.assert_array_equal(
        st.cutout(corner, extent, time_sample_range=(0, 3)),
        _expected(vols, "uint16", corner, extent, (0, 3)),
    )
    assert len(listings) == 2


def test_partition_names_escape_like_spark(spark, tmp_path):
    """A lookup_key holding characters Spark escapes in partition paths is
    staged under the directory Spark would name, and reads back through
    Spark and through the driver fetch."""
    key = "1&a=b%c:d#e?f g[h]é"
    st = CuboidStore(spark, str(tmp_path / "odd"), datatype="uint8", lookup_key=key)
    vol = np.random.default_rng(3).integers(1, 255, size=(2, 8, 8)).astype("uint8")
    st.write_cuboid(vol, (CUBOID_X - 4, 0, 0))  # two pgroup-0 cuboids
    by_spark = str(tmp_path / "by_spark")
    st.blocks().write.partitionBy("lookup_key", "resolution", "pgroup").parquet(by_spark)
    names = {os.path.relpath(d, root) for root in (st.path, by_spark)
             for d in store_mod._list_partition_dirs(root).values()}
    assert names == {"lookup_key=1&a%3Db%25c%3Ad%23e%3Ff g%5Bh%5Dé/resolution=0/pgroup=0"}
    assert [lk for lk, _, _ in store_mod._list_partition_dirs(st.path)] == [key]
    np.testing.assert_array_equal(st.cutout((CUBOID_X - 4, 0, 0), (8, 8, 2))[0], vol)
    rows = st.blocks().select("lookup_key", "x_idx", "blob").collect()
    assert {(r.lookup_key, r.x_idx) for r in rows} == {(key, 0), (key, 1)}
    got = {r.x_idx: unpack_array(r.blob) for r in rows}
    np.testing.assert_array_equal(got[0][:2, :8, CUBOID_X - 4 :], vol[:, :, :4])
    np.testing.assert_array_equal(got[1][:2, :8, :4], vol[:, :, 4:])


def test_mixed_writer_table_agrees_on_every_path(spark, tmp_path):
    """One table with partitions staged by Spark (ingest, compact) and by
    pyarrow (write_cuboid), plus a file without the `ids` column: the Spark
    `blocks()`/`voxels()` and the driver `cutout`/`id_bounds` agree."""
    import glob

    import pyarrow.parquet as pq

    from spdb_spark.schema import VOXEL_SCHEMA
    from spdb_spark.sources.volumetric import ingest_voxel_files

    st = CuboidStore(spark, str(tmp_path / "mixed"), datatype="uint64")
    corner, extent = (16 * CUBOID_X - 300, 0, 0), (600, 64, 32)  # x_idx 15|16, z_idx 0|1
    truth = np.zeros(extent[::-1], dtype="uint64")
    rng = np.random.default_rng(8)
    x, y, z = (rng.integers(0, n, 300) for n in (290, 64, 32))  # pgroup 0 only
    truth[z, y, x] = rng.choice([5, 6], 300)
    zz, yy, xx = np.nonzero(truth)
    voxels = [(st.lookup_key, 0, 0, int(a) + corner[0], int(b), int(c), int(truth[c, b, a]))
              for a, b, c in zip(xx, yy, zz)]
    spark.createDataFrame(voxels, VOXEL_SCHEMA).write.parquet(str(tmp_path / "vox"))
    ingest_voxel_files(st, str(tmp_path / "vox"))
    st.compact(0, blocks_per_file=1)

    def files(pg):
        return glob.glob(f"{st.path}/lookup_key=*/resolution=0/pgroup={pg}/*.parquet")

    assert len(files(0)) == 2  # one Spark file per cuboid
    paint = np.zeros((32, 40, 200), dtype="uint64")  # pgroup 1 only
    paint[3:20, 5:30, 10:150] = 7
    paint[25, 35, 199] = 5
    st.write_cuboid(paint, (16 * CUBOID_X, 10, 0))
    truth[:, 10:50, 300:500][paint != 0] = paint[paint != 0]
    _drop_ids_column(st.path, 1)
    fill = np.zeros((20, 10, 100), dtype="uint64")  # pgroup 0 only, z_idx 0|1
    fill[:, :, :50] = 8
    fill[:, :, 50:] = 6
    st.write_cuboid(fill, (corner[0] + 100, 20, 6), mode="exception")
    view = truth[6:26, 20:30, 100:200]
    view[view == 0] = fill[view == 0]
    assert len(files(0)) == 1 and len(files(1)) == 1
    assert "ids" not in pq.read_schema(files(1)[0]).names

    np.testing.assert_array_equal(st.cutout(corner, extent)[0], truth)
    vox = st.voxels().toPandas()
    dense = np.zeros_like(truth)
    dense[vox["z"].to_numpy(), vox["y"].to_numpy(), vox["x"].to_numpy() - corner[0]] = (
        vox["value"].to_numpy().astype("uint64")
    )
    np.testing.assert_array_equal(dense, truth)
    by_spark = {(r.t, r.morton): (r.blob, r.ids) for r in st.blocks().collect()}
    by_arrow = {(r["t"], r["morton"]): (r["blob"], r["ids"]) for r in st._fetch(0).to_pylist()}
    assert by_spark == by_arrow and len(by_spark) == 4
    for obj_id in (5, 6, 7, 8):
        zs, ys, xs = np.nonzero(truth == obj_id)
        assert st.id_bounds(obj_id) == [
            (int(a.min()) + c, int(a.max()) + c) for a, c in zip((xs, ys, zs), corner)
        ]

    # a dense image cuboid is its own row group; small cuboids share one
    img = CuboidStore(spark, str(tmp_path / "img"), datatype="uint8")
    dense = rng.integers(0, 256, size=(16, 512, 2 * CUBOID_X)).astype("uint8")  # x_idx 0, 1
    sparse = np.zeros((1, 1, 2 * CUBOID_X), dtype="uint8")  # x_idx 2, 3
    sparse[0, 0, ::100] = 9
    img.write_cuboid(dense, (0, 0, 0))
    img.write_cuboid(sparse, (2 * CUBOID_X, 0, 0))
    (path,) = glob.glob(f"{img.path}/lookup_key=*/resolution=0/pgroup=0/*.parquet")
    meta = pq.ParquetFile(path).metadata
    assert [meta.row_group(i).num_rows for i in range(meta.num_row_groups)] == [1, 1, 2]
    np.testing.assert_array_equal(img.cutout((0, 0, 0), (2 * CUBOID_X, 512, 16))[0], dense)
