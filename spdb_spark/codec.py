"""Block (cuboid) blob codec: dense ndarray <-> compressed bytes, and
block <-> voxel conversion kernels used via ``mapInPandas``.

Replaces the reference's blosc pack/unpack (cube.py:127-262) with
zlib-over-C-order-bytes plus a tiny self-describing header. A cuboid blob
holds ONE time sample as a C-ordered [z, y, x] array of the channel dtype
(reference layout [t, z, y, x], cube.py:51-58, with t always 1 per stored
object — spatialdb.py:806-826 slices writes per time sample).

All bulk paths are Arrow-batched (mapInPandas): Python runs once per batch of
cuboids, numpy does the per-voxel work — never row-at-a-time Python.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from spdb_spark.constants import CUBOID_SIZE

_MAGIC = b"SPB1"
_DTYPE_CODES = {"uint8": 1, "uint16": 2, "uint32": 3, "uint64": 4}
_CODE_DTYPES = {v: k for k, v in _DTYPE_CODES.items()}
# header: magic, dtype code, zdim, ydim, xdim
_HEADER = struct.Struct("<4sBHHH")


def pack_array(arr: np.ndarray) -> bytes:
    """Compress one [z, y, x] C-order ndarray into a blob."""
    if arr.ndim != 3:
        raise ValueError(f"expected [z,y,x] 3-d array, got shape {arr.shape}")
    code = _DTYPE_CODES[arr.dtype.name]
    z, y, x = arr.shape
    header = _HEADER.pack(_MAGIC, code, z, y, x)
    return header + zlib.compress(np.ascontiguousarray(arr).tobytes(), level=1)


def cuboid_ids(arr: np.ndarray) -> list[int] | None:
    """The `ids` column of one cuboid: its sorted distinct non-zero values
    in the int64 view for a 64-bit (annotation id) cuboid, None for
    narrower dtypes, whose dense image voxels would make the unique cost
    as much as the pack."""
    if arr.dtype.itemsize != 8:
        return None
    return np.unique(arr[arr != 0].view(np.int64)).tolist()


def unpack_array(blob: bytes) -> np.ndarray:
    """Decompress a blob back into a [z, y, x] ndarray."""
    magic, code, z, y, x = _HEADER.unpack_from(blob)
    if magic != _MAGIC:
        raise ValueError("bad blob magic")
    dtype = np.dtype(_CODE_DTYPES[code])
    # exact bufsize: zlib fills one buffer instead of growing a block list
    # and joining it (which holds the cuboid twice)
    raw = zlib.decompress(
        memoryview(blob)[_HEADER.size:], bufsize=z * y * x * dtype.itemsize
    )
    return np.frombuffer(raw, dtype=dtype).reshape(z, y, x)


def blob_dtype(blob: bytes) -> str:
    return _CODE_DTYPES[_HEADER.unpack_from(blob)[1]]


# ---------------------------------------------------------------------------
# mapInPandas kernels
# ---------------------------------------------------------------------------

# Max voxel rows per yielded pandas frame: bounds the Arrow batch a task
# sends back (a DENSE cuboid decodes to 4.2M rows ~ 250MB as one batch;
# several concurrent tasks at that size exhaust the JVM direct-memory pool).
_MAX_ROWS_PER_CHUNK = 512 * 512 * 4


def blocks_to_voxels(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: block rows -> voxel rows (zero-suppressed).

    Input columns: lookup_key, resolution, t, x_idx, y_idx, z_idx, blob.
    Output columns: lookup_key, resolution, t, x, y, z, value.

    Yields one bounded chunk at a time (never concatenates cuboids):
    per-task memory stays O(one cuboid), whatever the partition holds.
    """
    cx, cy, cz = CUBOID_SIZE
    for pdf in batches:
        for row in pdf.itertuples(index=False):
            arr = unpack_array(row.blob)
            zz, yy, xx = np.nonzero(arr)
            n = len(zz)
            if n == 0:
                continue
            vals = arr[zz, yy, xx].astype(np.int64)
            for lo in range(0, n, _MAX_ROWS_PER_CHUNK):
                hi = min(lo + _MAX_ROWS_PER_CHUNK, n)
                yield pd.DataFrame(
                    {
                        "lookup_key": row.lookup_key,
                        "resolution": np.int32(row.resolution),
                        "t": np.int64(row.t),
                        "x": xx[lo:hi].astype(np.int64) + row.x_idx * cx,
                        "y": yy[lo:hi].astype(np.int64) + row.y_idx * cy,
                        "z": zz[lo:hi].astype(np.int64) + row.z_idx * cz,
                        "value": vals[lo:hi],
                    }
                )


def make_voxels_to_blocks(dtype: str):
    """Build a mapInPandas kernel packing voxel rows into cuboid blobs.

    Expects input pre-grouped so one cuboid's voxels never span partitions
    (use groupBy(cuboid key).applyInPandas or repartition+sortWithinPartitions
    upstream). Input columns: lookup_key, resolution, t, x, y, z, value.
    """
    np_dtype = np.dtype(dtype)
    cx, cy, cz = CUBOID_SIZE

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        lookup_key, resolution, t, x_idx, y_idx, z_idx = key
        arr = np.zeros((cz, cy, cx), dtype=np_dtype)
        lx = pdf["x"].to_numpy() - x_idx * cx
        ly = pdf["y"].to_numpy() - y_idx * cy
        lz = pdf["z"].to_numpy() - z_idx * cz
        arr[lz, ly, lx] = pdf["value"].to_numpy().astype(np_dtype)
        from spdb_spark.morton import xyz_morton

        return pd.DataFrame(
            {
                "lookup_key": [lookup_key],
                "resolution": [np.int32(resolution)],
                "t": [np.int64(t)],
                "morton": [np.int64(xyz_morton(x_idx, y_idx, z_idx))],
                "x_idx": [np.int32(x_idx)],
                "y_idx": [np.int32(y_idx)],
                "z_idx": [np.int32(z_idx)],
                "blob": [pack_array(arr)],
                "ids": [cuboid_ids(arr)],
            }
        )

    return kernel
