"""Blob codec round-trips (reference analog: blosc round-trip tests,
test_cube.py:299-400)."""

import numpy as np
import pytest

from spdb_spark.codec import blob_dtype, pack_array, unpack_array


@pytest.mark.parametrize("dtype", ["uint8", "uint16", "uint64"])
def test_pack_unpack_roundtrip(dtype):
    rng = np.random.default_rng(42)
    arr = rng.integers(0, 200, size=(16, 512, 512)).astype(dtype)
    blob = pack_array(arr)
    out = unpack_array(blob)
    assert out.dtype == np.dtype(dtype)
    assert out.shape == arr.shape
    np.testing.assert_array_equal(out, arr)
    assert blob_dtype(blob) == dtype


def test_pack_rejects_non_3d():
    with pytest.raises(ValueError):
        pack_array(np.zeros((4, 4), dtype="uint8"))


def test_compression_shrinks_sparse():
    arr = np.zeros((16, 512, 512), dtype="uint64")
    arr[0, 0, 0] = 7
    blob = pack_array(arr)
    assert len(blob) < arr.nbytes / 100


def test_merge_truth_tables(spark, tmp_path):
    """store._merge, the dense overlay of a write onto a stored cuboid:
    semantics per mode, uint64 ids, bad modes, and a merge that empties a
    cuboid storing no block row."""
    from spdb_spark.store import CuboidStore, _merge

    def merged(old, new, mode, dtype="uint8"):
        view = np.zeros((4, 4, 4), dtype=dtype)
        piece = np.zeros((4, 4, 4), dtype=dtype)
        for arr, voxels in ((view, old), (piece, new)):
            for (x, y, z), v in voxels.items():
                arr[z, y, x] = v
        _merge(view, piece, mode)
        return view

    arr = merged({(1, 1, 1): 5, (2, 2, 2): 6}, {(1, 1, 1): 9, (3, 3, 3): 7}, "overwrite")
    assert arr[1, 1, 1] == 9 and arr[2, 2, 2] == 6 and arr[3, 3, 3] == 7

    arr = merged({(1, 1, 1): 5}, {(1, 1, 1): 9, (3, 3, 3): 7}, "exception")
    assert arr[1, 1, 1] == 5 and arr[3, 3, 3] == 7  # old wins, gaps fill

    arr = merged({(1, 1, 1): 5, (2, 2, 2): 6}, {(1, 1, 1): 1, (2, 2, 2): 2}, "to_black")
    assert arr[1, 1, 1] == 0 and arr[2, 2, 2] == 6  # only mask == 1 erases

    # uint64 boundary ids survive the overlay bit-exactly
    big = 2**63 - 1
    arr = merged({(0, 0, 0): big}, {(3, 3, 3): big - 1}, "overwrite", "uint64")
    assert arr[0, 0, 0] == np.uint64(big) and arr[3, 3, 3] == np.uint64(big - 1)

    with pytest.raises(ValueError):
        merged({}, {}, "bogus")

    # a merge that empties the cuboid stores NO block row
    store = CuboidStore(spark, str(tmp_path / "blocks"), datatype="uint8")
    data = np.zeros((4, 4, 4), dtype="uint8")
    data[1, 1, 1] = 5
    store.write_cuboid(data, (0, 0, 0))
    assert store.blocks().count() == 1
    store.write_cuboid(np.ones_like(data), (0, 0, 0), mode="to_black")
    assert store.blocks().count() == 0
