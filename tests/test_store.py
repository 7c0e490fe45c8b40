"""CuboidStore round-trips — the reference's own smoke-test style
(int_test_spatialdb.py:39-530): write random cube, cut it back, arrays equal;
merge-mode truth tables; time samples; id filter."""

import numpy as np
import pytest

from spdb_spark.store import CuboidStore


@pytest.fixture
def store(spark, tmp_path, request):
    """A uint8 store. The publish-seam tests (`publish_seam`) get it once
    per session setting of Spark's partition-overwrite mode: `overwrite`
    turns dynamic partition overwrite on, `swap` keeps Spark's default
    static mode, under which a stray `mode("overwrite").partitionBy` on
    the table would wipe every super-block. The one move-aside swap
    publish must not depend on either."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    session_mode = {"overwrite": "DYNAMIC", "swap": "STATIC"}
    spark.conf.set(key, session_mode[getattr(request, "param", "swap")])
    try:
        yield CuboidStore(spark, str(tmp_path / "blocks"), datatype="uint8")
    finally:
        spark.conf.set(key, before)


publish_seam = pytest.mark.parametrize("store", ["overwrite", "swap"], indirect=True)


def random_cube(shape, seed, lo=1, hi=254):
    rng = np.random.default_rng(seed)
    return rng.integers(lo, hi, size=shape).astype("uint8")


@publish_seam
def test_aligned_single_cuboid_roundtrip(store):
    data = random_cube((16, 512, 512), 1)
    store.write_cuboid(data, (0, 0, 0))
    out = store.cutout((0, 0, 0), (512, 512, 16))
    np.testing.assert_array_equal(out[0], data)


def test_unaligned_multi_cuboid_roundtrip(store):
    data = random_cube((24, 700, 600), 2)
    store.write_cuboid(data, (300, 400, 7))
    out = store.cutout((300, 400, 7), (600, 700, 24))
    np.testing.assert_array_equal(out[0], data)


def test_partial_read(store):
    data = random_cube((16, 512, 512), 3)
    store.write_cuboid(data, (0, 0, 0))
    out = store.cutout((100, 200, 4), (50, 60, 8))
    np.testing.assert_array_equal(out[0], data[4:12, 200:260, 100:150])


def test_unwritten_region_is_zeros(store):
    data = random_cube((16, 512, 512), 4)
    store.write_cuboid(data, (0, 0, 0))
    out = store.cutout((600, 600, 0), (64, 64, 16))
    assert out.sum() == 0


def test_overwrite_merge_semantics(store):
    base = random_cube((16, 512, 512), 5)
    store.write_cuboid(base, (0, 0, 0))
    patch = np.zeros((8, 100, 100), dtype="uint8")
    patch[::2, ::3, ::5] = 77  # sparse non-zero voxels
    store.write_cuboid(patch, (50, 50, 4))
    out = store.cutout((0, 0, 0), (512, 512, 16))[0]
    expected = base.copy()
    region = expected[4:12, 50:150, 50:150]
    region[patch != 0] = patch[patch != 0]  # non-zero overwrites only
    np.testing.assert_array_equal(out, expected)


def test_exception_merge_fills_only_zeros(store):
    base = np.zeros((16, 512, 512), dtype="uint8")
    base[0:4] = 9
    store.write_cuboid(base, (0, 0, 0))
    fill = np.full((8, 64, 64), 33, dtype="uint8")
    store.write_cuboid(fill, (0, 0, 0), mode="exception")
    out = store.cutout((0, 0, 0), (512, 512, 16))[0]
    assert (out[0:4, :64, :64] == 9).all()       # existing preserved
    assert (out[4:8, :64, :64] == 33).all()      # zeros filled
    assert (out[8:, :64, :64] == 0).all()


def test_to_black_erases_masked(store):
    base = random_cube((16, 512, 512), 6)
    store.write_cuboid(base, (0, 0, 0))
    mask = np.zeros((4, 64, 64), dtype="uint8")
    mask[:, :32, :] = 1
    store.write_cuboid(mask, (0, 0, 0), mode="to_black")
    out = store.cutout((0, 0, 0), (512, 512, 16))[0]
    assert out[0:4, 0:32, 0:64].sum() == 0
    np.testing.assert_array_equal(out[0:4, 32:64, 0:64], base[0:4, 32:64, 0:64])


@publish_seam
def test_to_black_full_erase_clears_partition(store):
    """Erasing EVERY surviving voxel of a super-block must remove its
    parquet partition: dynamic overwrite alone never rewrites a partition
    absent from the merge output (round-1 ADVICE high bug)."""
    data = np.zeros((16, 64, 64), dtype="uint8")
    data[:4, :8, :8] = 7
    store.write_cuboid(data, (0, 0, 0))
    mask = np.ones((16, 512, 512), dtype="uint8")
    store.write_cuboid(mask, (0, 0, 0), mode="to_black")
    out = store.cutout((0, 0, 0), (512, 512, 16))
    assert out.sum() == 0
    # and the store stays writable afterwards
    store.write_cuboid(data, (0, 0, 0))
    assert store.cutout((0, 0, 0), (64, 64, 16)).sum() == data.sum()


@publish_seam
def test_to_black_partial_erase_keeps_other_superblocks(store):
    """An erase that empties one super-block must not disturb another."""
    a = random_cube((16, 128, 128), 22)
    store.write_cuboid(a, (0, 0, 0))  # pgroup 0
    b = random_cube((16, 128, 128), 23)
    store.write_cuboid(b, (16 * 512, 0, 0))  # pgroup 1
    mask = np.ones((16, 128, 128), dtype="uint8")
    store.write_cuboid(mask, (0, 0, 0), mode="to_black")
    assert store.cutout((0, 0, 0), (128, 128, 16)).sum() == 0
    np.testing.assert_array_equal(
        store.cutout((16 * 512, 0, 0), (128, 128, 16))[0], b
    )


def test_time_samples_and_missing_step_zeros(store):
    t0 = random_cube((16, 64, 64), 7)
    t2 = random_cube((16, 64, 64), 8)
    store.write_cuboid(t0, (0, 0, 0), time_sample_start=0)
    store.write_cuboid(t2, (0, 0, 0), time_sample_start=2)
    out = store.cutout((0, 0, 0), (64, 64, 16), time_sample_range=(0, 3))
    np.testing.assert_array_equal(out[0], t0)
    assert out[1].sum() == 0  # missing middle step renders as zeros
    np.testing.assert_array_equal(out[2], t2)


def test_filtered_cutout(store):
    data = np.zeros((16, 128, 128), dtype="uint8")
    data[0, 0, 0:10] = 5
    data[0, 1, 0:10] = 7
    data[0, 2, 0:10] = 9
    store.write_cuboid(data, (0, 0, 0))
    out = store.cutout((0, 0, 0), (128, 128, 16), filter_ids=[5, 9])
    assert set(np.unique(out)) == {0, 5, 9}
    assert (out[0, 0, 0, 0:10] == 5).all()
    assert (out[0, 0, 1, 0:10] == 0).all()


def test_uint64_annotation_roundtrip(spark, tmp_path):
    store = CuboidStore(spark, str(tmp_path / "anno"), datatype="uint64")
    data = np.zeros((16, 512, 512), dtype="uint64")
    data[2:6, 10:40, 10:40] = 10**15  # beyond uint32
    store.write_cuboid(data, (0, 0, 0))
    out = store.cutout((0, 0, 0), (512, 512, 16))
    np.testing.assert_array_equal(out[0], data)


@publish_seam
def test_writes_rewrite_only_touched_superblocks(store, spark, tmp_path):
    """Write cost must track the write, not the channel: parquet files in
    untouched super-block partitions stay byte-identical on later writes."""
    import glob
    import os

    a = random_cube((16, 128, 128), 20)
    store.write_cuboid(a, (0, 0, 0))  # pgroup 0
    files_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(store.path + "/**/*.parquet", recursive=True)
    }
    assert files_before
    # far-away write lands in a different super-block (x_idx=16 -> morton
    # 4096 -> pgroup 1)
    b = random_cube((16, 128, 128), 21)
    store.write_cuboid(b, (16 * 512, 0, 0))
    files_after = {
        p: os.path.getmtime(p)
        for p in glob.glob(store.path + "/**/*.parquet", recursive=True)
    }
    assert set(files_before) < set(files_after)  # new partition added
    for p, mtime in files_before.items():
        assert files_after[p] == mtime  # pgroup-0 files untouched
    # both regions readable
    import numpy as np
    np.testing.assert_array_equal(store.cutout((0, 0, 0), (128, 128, 16))[0], a)
    np.testing.assert_array_equal(
        store.cutout((16 * 512, 0, 0), (128, 128, 16))[0], b
    )


def test_get_cubes_by_morton(store):
    from spdb_spark.morton import xyz_morton

    data = random_cube((16, 512, 1024), 30)  # cuboids (0,0,0) and (1,0,0)
    store.write_cuboid(data, (0, 0, 0))
    m0, m1 = xyz_morton(0, 0, 0), xyz_morton(1, 0, 0)
    m_absent = xyz_morton(5, 5, 5)
    cubes = store.get_cubes([m1, m0, m_absent])
    assert sorted(cubes) == sorted([m0, m1, m_absent])
    np.testing.assert_array_equal(cubes[m0], data[:, :, :512])
    np.testing.assert_array_equal(cubes[m1], data[:, :, 512:])
    assert cubes[m_absent].sum() == 0  # absent -> zero cube


def test_uint64_full_range_roundtrip(spark, tmp_path):
    """Values in [2^63, 2^64) must survive write+cutout bit-exactly: the
    voxel/long representation is the two's-complement view, and both the
    codec and assembly reinterpret through the same view (SURVEY §1.2
    'unsigned-dtype fidelity at uint64 boundaries')."""
    store = CuboidStore(spark, str(tmp_path / "anno64"), datatype="uint64")
    data = np.zeros((16, 512, 512), dtype="uint64")
    data[0, 0, 0] = 2**64 - 1
    data[0, 0, 1] = 2**63 + 5
    data[1, 2, 3] = 2**63
    data[2, 4, 6] = 2**63 - 1  # max signed, for contrast
    store.write_cuboid(data, (0, 0, 0))
    out = store.cutout((0, 0, 0), (512, 512, 16))
    np.testing.assert_array_equal(out[0], data)

    # merge semantics hold across the boundary: a second write of a
    # different >2^63 id overwrites (non-zero wins), zeros never erase
    data2 = np.zeros((16, 512, 512), dtype="uint64")
    data2[0, 0, 0] = 2**63 + 99
    store.write_cuboid(data2, (0, 0, 0))
    out2 = store.cutout((0, 0, 0), (512, 512, 16))
    assert out2[0][0, 0, 0] == 2**63 + 99
    assert out2[0][0, 0, 1] == 2**63 + 5  # untouched by zero


def test_two_writers_lose_no_acknowledged_write(spark, tmp_path):
    """Two threads write different cuboids of one super-block at once.
    Each write reads, merges and republishes the whole super-block, so
    without the per-table writer lock the later publish drops the other
    thread's cuboids; with it, every acknowledged write reads back."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    store = CuboidStore(spark, str(tmp_path / "race"), datatype="uint8")
    boxes = {(x * 512, 0, 0): random_cube((16, 32, 32), 50 + x) for x in range(4)}
    start = threading.Barrier(2, timeout=60)

    def writer(corners):
        start.wait()
        for corner in corners:
            store.write_cuboid(boxes[corner], corner)

    corners = sorted(boxes)
    with ThreadPoolExecutor(2) as pool:
        list(pool.map(writer, [corners[0::2], corners[1::2]], timeout=600))
    for corner, data in boxes.items():
        np.testing.assert_array_equal(store.cutout(corner, (32, 32, 16))[0], data)


def test_crash_mid_publish_loses_no_acknowledged_write(store, spark, monkeypatch):
    """Kill a write's publish between the move-aside and the swap: the
    super-block's old copy survives in the trash, and the next write (from
    a fresh CuboidStore on the same path) restores it before merging, so
    every earlier acknowledged write reads back."""
    import glob
    import os

    a, b = random_cube((16, 64, 64), 40), random_cube((16, 64, 64), 41)
    store.write_cuboid(a, (0, 0, 0))
    store.write_cuboid(b, (512, 0, 0))  # same super-block (pgroup 0)

    real_rename = os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        # call 1 = move-aside (old partition -> trash); call 2 = swap
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("simulated crash between move-aside and swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        store.write_cuboid(random_cube((16, 64, 64), 42), (1024, 0, 0))
    monkeypatch.setattr(os, "rename", real_rename)
    assert glob.glob(store.path + ".trash-*")

    fresh = CuboidStore(spark, store.path, datatype="uint8")
    c = random_cube((16, 64, 64), 43)
    fresh.write_cuboid(c, (0, 512, 0))
    assert not glob.glob(store.path + ".trash-*")
    for corner, data in (((0, 0, 0), a), ((512, 0, 0), b), ((0, 512, 0), c)):
        np.testing.assert_array_equal(fresh.cutout(corner, (64, 64, 16))[0], data)


def test_store_leaves_partition_overwrite_mode_alone(spark, tmp_path):
    """Building a store must not change how later partitioned overwrites
    in the same session behave."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        CuboidStore(spark, str(tmp_path / "conf"), datatype="uint8")
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, before)


def test_recover_restores_only_from_unfinished_publishes(tmp_path):
    """recover puts back a partition only from the trash of a publish that
    died before its end; the `.done` trash of a finished publish (an erase
    that dropped the partition, killed mid-delete) is only deleted."""
    import os

    from spdb_spark.store import recover

    table = str(tmp_path / "t")
    part = os.path.join("lookup_key=k", "resolution=0")
    for root, pg in ((table, 0), (table + ".trash-a", 1), (table + ".trash-b.done", 2)):
        os.makedirs(os.path.join(root, part, f"pgroup={pg}"))
        open(os.path.join(root, part, f"pgroup={pg}", "f.parquet"), "w").close()
    recover(table)
    assert sorted(os.listdir(os.path.join(table, part))) == ["pgroup=0", "pgroup=1"]
    assert sorted(os.listdir(tmp_path)) == ["t"]
