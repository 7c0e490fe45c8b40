"""Seeded inputs and the numpy correctness oracle for the spatial benchmark.

Everything the engine receives -- volumes, boxes, masks, ids -- is made
here from the workload seed, so the same seed always gives the same op
list. The oracle side keeps a numpy shadow of what the store should hold
and reference implementations of the downsample rules, so every result
the engine returns can be checked outside the timed interval.

Nothing here imports Spark.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

CUBOID = (512, 512, 16)  # (x, y, z) voxels per cuboid; mirrors spdb_spark.constants

# -- em_viewer geometry ------------------------------------------------------
# A 2x2x2-cuboid uint8 image (32 MiB raw). Every box class has a fixed
# cuboid-crossing pattern, so a seed moves boxes but not the work per box.
EM_EXTENT = (1024, 1024, 32)
EM_TILE = 512
EM_SUB_BOX = (128, 128, 8)  # inside one cuboid
EM_ALIGNED_BOX = (512, 512, 16)  # exactly one cuboid
EM_UNALIGNED_BOX = (384, 384, 12)  # always spans 2x2x2 cuboids
EM_ANCHORS = 8  # origins per box class; Zipf-chosen so requests repeat
EM_ROUND = ("tile", "sub", "tile", "aligned", "tile", "unaligned")

# -- anno_proofread geometry -------------------------------------------------
# Stored data covers cuboid columns x_idx 15..16, so it straddles the
# super-block boundary at x_idx 16 (pgroup = morton >> 12): two partitions.
ANNO_X0 = 15 * 512
ANNO_REGION = (1024, 1024, 32)  # 2 x 2 x 2 = 8 cuboids, 4 per super-block
ANNO_EXTENT = (ANNO_X0 + ANNO_REGION[0], ANNO_REGION[1], ANNO_REGION[2])
ANNO_PGROUP_X = 16 * 512  # first voxel x of the second super-block
ANNO_OBJECTS_PER_CUBOID = 3
ANNO_EDIT_BOX = (128, 128, 8)

# -- pyramid_build geometry --------------------------------------------------
PYR_IMAGE_EXTENT = (512, 512, 16)  # 1 dense cuboid, textured uint8
PYR_ANNO_EXTENT = (1024, 512, 16)  # 2 sparse cuboids that merge at level 1
PYR_LEVELS = 3  # downsample builds levels 1 and 2
PYR_OBJECTS_PER_CUBOID = 6


def _zipf_indices(rng: np.random.Generator, n: int, k: int, s: float = 1.2) -> np.ndarray:
    """n draws from a Zipf(s) law truncated to k ranks."""
    p = 1.0 / np.arange(1, k + 1) ** s
    return rng.choice(k, size=n, p=p / p.sum())


def textured_volume(rng: np.random.Generator, extent: tuple[int, int, int]) -> np.ndarray:
    """[z, y, x] uint8 image: a smooth field of a few low-frequency waves
    plus small noise, never 0. Compresses like real EM data rather than
    like white noise."""
    nx, ny, nz = extent
    x = np.arange(nx, dtype=np.float32)
    y = np.arange(ny, dtype=np.float32)
    z = np.arange(nz, dtype=np.float32)
    field = np.zeros((nz, ny, nx), dtype=np.float32)
    for _ in range(4):
        wx, wy = rng.uniform(2 * np.pi / 600, 2 * np.pi / 90, size=2)
        wz = rng.uniform(2 * np.pi / 80, 2 * np.pi / 20)
        px, py, pz = rng.uniform(0, 2 * np.pi, size=3)
        field += (
            np.cos(wz * z + pz)[:, None, None]
            * np.sin(wy * y + py)[None, :, None]
            * np.sin(wx * x + px)[None, None, :]
        )
    img = 128 + 25 * field
    img += rng.integers(0, 12, size=field.shape, dtype=np.uint8)
    return np.clip(img, 1, 255).astype(np.uint8)


def _ellipsoid(shape_zyx: tuple[int, int, int]) -> np.ndarray:
    nz, ny, nx = shape_zyx
    z, y, x = np.ogrid[:nz, :ny, :nx]
    return (
        ((z + 0.5 - nz / 2) / (nz / 2)) ** 2
        + ((y + 0.5 - ny / 2) / (ny / 2)) ** 2
        + ((x + 0.5 - nx / 2) / (nx / 2)) ** 2
    ) <= 1.0


def sparse_labels(
    rng: np.random.Generator, extent: tuple[int, int, int], n_objects: int, first_id: int = 1,
    per_cuboid: bool = False,
) -> np.ndarray:
    """[z, y, x] uint64 annotation volume of ellipsoid objects with ids
    first_id, first_id+1, ... With per_cuboid, objects are dealt round-robin
    over the cuboids so that every cuboid of the extent is non-empty.
    Objects may overlap; a later one overwrites an earlier one."""
    nx, ny, nz = extent
    out = np.zeros((nz, ny, nx), dtype=np.uint64)
    cx, cy, cz = CUBOID
    cells = [
        (xi, yi, zi)
        for zi in range(nz // cz) for yi in range(ny // cy) for xi in range(nx // cx)
    ]
    for k in range(n_objects):
        # sizes cycle with k and only positions come from the seed, so
        # every seed stores about the same number of voxels
        sx, sy, sz = 24 + (37 * k) % 72, 24 + (53 * k) % 72, 2 + k % 6
        if per_cuboid:
            xi, yi, zi = cells[k % len(cells)]
            x0 = xi * cx + int(rng.integers(0, cx - sx))
            y0 = yi * cy + int(rng.integers(0, cy - sy))
            z0 = zi * cz + int(rng.integers(0, cz - sz))
        else:
            x0 = int(rng.integers(0, nx - sx))
            y0 = int(rng.integers(0, ny - sy))
            z0 = int(rng.integers(0, nz - sz))
        blob = _ellipsoid((sz, sy, sx))
        view = out[z0 : z0 + sz, y0 : y0 + sy, x0 : x0 + sx]
        view[blob] = first_id + k
    return out


# ---------------------------------------------------------------------------
# Op lists
# ---------------------------------------------------------------------------


def em_viewer_ops(seed: int, rounds: int) -> list[dict]:
    """Read-only viewer traffic: each round is EM_ROUND, box origins drawn
    Zipf-skewed over a fixed anchor set per class."""
    rng = np.random.default_rng([seed, 1])
    nx, ny, nz = EM_EXTENT
    cx, cy, cz = CUBOID
    anchors = {
        "tile": [
            (int(rng.integers(0, nx // EM_TILE)) * EM_TILE,
             int(rng.integers(0, ny // EM_TILE)) * EM_TILE,
             int(rng.integers(0, nz)))
            for _ in range(2 * EM_ANCHORS)
        ],
        "sub": [],
        "aligned": [],
        "unaligned": [],
    }
    for _ in range(EM_ANCHORS):
        bx, by, bz = EM_SUB_BOX
        xi, yi, zi = (int(v) for v in rng.integers(0, 2, size=3))
        anchors["sub"].append(
            (xi * cx + int(rng.integers(0, cx - bx + 1)),
             yi * cy + int(rng.integers(0, cy - by + 1)),
             zi * cz + int(rng.integers(0, cz - bz + 1)))
        )
        anchors["aligned"].append((xi * cx, yi * cy, zi * cz))
        ux, uy, uz = EM_UNALIGNED_BOX
        # straddle the central cuboid corner on every axis
        anchors["unaligned"].append(
            (int(rng.integers(cx - ux + 1, cx)),
             int(rng.integers(cy - uy + 1, cy)),
             int(rng.integers(cz - uz + 1, cz)))
        )
    extents = {"sub": EM_SUB_BOX, "aligned": EM_ALIGNED_BOX, "unaligned": EM_UNALIGNED_BOX}
    picks = {k: iter(_zipf_indices(rng, rounds * 3, len(v))) for k, v in anchors.items()}
    ops = []
    for _ in range(rounds):
        for cls in EM_ROUND:
            a = anchors[cls][next(picks[cls])]
            if cls == "tile":
                ops.append({"kind": "tile", "corner": a[:2], "extent": (EM_TILE, EM_TILE), "z": a[2]})
            else:
                ops.append({"kind": "cutout", "cls": cls, "corner": a, "extent": extents[cls]})
    return ops


def _edit_mask(rng: np.random.Generator, box: tuple[int, int, int]) -> np.ndarray:
    """A 96x96x6 ellipsoid at a seeded place inside the edit box."""
    bx, by, bz = box
    sx, sy, sz = 96, 96, 6
    m = np.zeros((bz, by, bx), dtype=bool)
    x0, y0, z0 = int(rng.integers(0, bx - sx + 1)), int(rng.integers(0, by - sy + 1)), int(rng.integers(0, bz - sz + 1))
    m[z0 : z0 + sz, y0 : y0 + sy, x0 : x0 + sx] = _ellipsoid((sz, sy, sx))
    return m


def anno_proofread_ops(seed: int, rounds: int) -> list[dict]:
    """Read-after-write proofreading. Each round paints a new id inside one
    cuboid, checks it, then paints another id across the super-block
    boundary, erases part of it, and checks that."""
    rng = np.random.default_rng([seed, 2])
    bx, by, bz = ANNO_EDIT_BOX
    cx, cy, cz = CUBOID
    rx, ry, rz = ANNO_REGION
    ops: list[dict] = []
    for _ in range(rounds):
        # paint 1: inside a single cuboid of the region
        xi = int(rng.integers(0, rx // cx))
        yi, zi = int(rng.integers(0, ry // cy)), int(rng.integers(0, rz // cz))
        c1 = (ANNO_X0 + xi * cx + int(rng.integers(0, cx - bx + 1)),
              yi * cy + int(rng.integers(0, cy - by + 1)),
              zi * cz + int(rng.integers(0, cz - bz + 1)))
        # paint 2: straddles x = ANNO_PGROUP_X, so it rewrites both super-blocks
        yi, zi = int(rng.integers(0, ry // cy)), int(rng.integers(0, rz // cz))
        c2 = (ANNO_PGROUP_X - int(rng.integers(16, bx - 16)),
              yi * cy + int(rng.integers(0, cy - by + 1)),
              zi * cz + int(rng.integers(0, cz - bz + 1)))
        m1, m2 = _edit_mask(rng, ANNO_EDIT_BOX), _edit_mask(rng, ANNO_EDIT_BOX)
        erase = np.zeros_like(m2)
        ez = int(rng.integers(0, bz - 2))
        erase[ez : ez + 3, :, : bx // 2] = True
        for corner, paint, extra in ((c1, m1, None), (c2, m2, erase)):
            ops.append({"kind": "reserve"})
            ops.append({"kind": "write", "corner": corner, "mask": paint})
            if extra is not None:
                ops.append({"kind": "erase", "corner": corner, "mask": extra})
            ops.append({"kind": "ids", "corner": corner, "extent": ANNO_EDIT_BOX})
            ops.append({"kind": "bbox"})
            ops.append({"kind": "fcut", "corner": corner, "extent": ANNO_EDIT_BOX})
    return ops


ANNO_ROUND_LEN = 11  # ops per anno_proofread round (see anno_proofread_ops)
EM_ROUND_LEN = len(EM_ROUND)


# ---------------------------------------------------------------------------
# Shadow copy (the oracle)
# ---------------------------------------------------------------------------


class Shadow:
    """Per-cuboid numpy copy of one channel at the base resolution.
    Absent cuboids are zeros, as in the store."""

    def __init__(self, dtype: str):
        self.dtype = np.dtype(dtype)
        self.cuboids: dict[tuple[int, int, int], np.ndarray] = {}

    def _cuboid(self, key: tuple[int, int, int]) -> np.ndarray:
        if key not in self.cuboids:
            cx, cy, cz = CUBOID
            self.cuboids[key] = np.zeros((cz, cy, cx), dtype=self.dtype)
        return self.cuboids[key]

    def _pieces(self, corner, shape_zyx):
        """(cuboid key, cuboid slices, input slices) for every cuboid a box
        at `corner` with [z, y, x] `shape_zyx` touches."""
        cx, cy, cz = CUBOID
        (x0, y0, z0), (nz, ny, nx) = corner, shape_zyx
        for zi in range(z0 // cz, (z0 + nz - 1) // cz + 1):
            for yi in range(y0 // cy, (y0 + ny - 1) // cy + 1):
                for xi in range(x0 // cx, (x0 + nx - 1) // cx + 1):
                    gx0, gx1 = max(x0, xi * cx), min(x0 + nx, (xi + 1) * cx)
                    gy0, gy1 = max(y0, yi * cy), min(y0 + ny, (yi + 1) * cy)
                    gz0, gz1 = max(z0, zi * cz), min(z0 + nz, (zi + 1) * cz)
                    yield (
                        (xi, yi, zi),
                        (slice(gz0 - zi * cz, gz1 - zi * cz), slice(gy0 - yi * cy, gy1 - yi * cy),
                         slice(gx0 - xi * cx, gx1 - xi * cx)),
                        (slice(gz0 - z0, gz1 - z0), slice(gy0 - y0, gy1 - y0), slice(gx0 - x0, gx1 - x0)),
                    )

    def write(self, corner, data: np.ndarray, mode: str = "overwrite") -> None:
        """Apply a [z, y, x] write with the store's merge rules: overwrite
        takes non-zero input voxels; to_black zeroes where input == 1."""
        for key, cs, ds in self._pieces(corner, data.shape):
            dst, src = self._cuboid(key)[cs], data[ds].astype(self.dtype)
            if mode == "overwrite":
                np.copyto(dst, src, where=src != 0)
            elif mode == "to_black":
                dst[src == 1] = 0
            else:
                raise ValueError(f"bad mode {mode!r}")

    def read(self, corner, extent) -> np.ndarray:
        """[z, y, x] copy of the box `corner` + `extent` (x, y, z)."""
        dx, dy, dz = extent
        out = np.zeros((dz, dy, dx), dtype=self.dtype)
        for key, cs, ds in self._pieces(corner, (dz, dy, dx)):
            if key in self.cuboids:
                out[ds] = self.cuboids[key][cs]
        return out

    def ids_in_region(self, corner, extent) -> list[str]:
        ids = np.unique(self.read(corner, extent))
        return [str(int(i)) for i in ids if i != 0]

    def tight_bbox(self, obj_id: int) -> dict | None:
        """The store's tight bounding-box dict, or None if the id is absent."""
        cx, cy, cz = CUBOID
        lo, hi = None, None
        for (xi, yi, zi), arr in self.cuboids.items():
            zz, yy, xx = np.nonzero(arr == obj_id)
            if len(zz) == 0:
                continue
            a = np.array([xx.min() + xi * cx, yy.min() + yi * cy, zz.min() + zi * cz])
            b = np.array([xx.max() + xi * cx, yy.max() + yi * cy, zz.max() + zi * cz])
            lo = a if lo is None else np.minimum(lo, a)
            hi = b if hi is None else np.maximum(hi, b)
        if lo is None:
            return None
        return {
            "x_range": [int(lo[0]), int(hi[0]) + 1],
            "y_range": [int(lo[1]), int(hi[1]) + 1],
            "z_range": [int(lo[2]), int(hi[2]) + 1],
            "t_range": [0, 1],
        }

    def nonzero_count(self) -> int:
        return sum(int(np.count_nonzero(a)) for a in self.cuboids.values())


def cuboids_in_box(corner, extent) -> int:
    cx, cy, cz = CUBOID
    (x0, y0, z0), (dx, dy, dz) = corner, extent
    n = 1
    for o, d, c in ((x0, dx, cx), (y0, dy, cy), (z0, dz, cz)):
        n *= (o + d - 1) // c - o // c + 1
    return n


# ---------------------------------------------------------------------------
# Downsample references (anisotropic: x and y halve, z stays)
# ---------------------------------------------------------------------------


def downsample_image_avg_ref(arr: np.ndarray) -> np.ndarray:
    """Mean of the non-zero voxels of each 2x2 xy window, truncated; 0
    where the window is all 0. `arr` is [z, y, x] with even y and x."""
    a = arr.astype(np.int64)
    nz, ny, nx = a.shape
    w = a.reshape(nz, ny // 2, 2, nx // 2, 2)
    total = w.sum(axis=(2, 4))
    count = (w != 0).sum(axis=(2, 4))
    out = np.zeros_like(total)
    np.floor_divide(total, count, out=out, where=count > 0)
    return out.astype(arr.dtype)


def downsample_annotation_ref(arr: np.ndarray) -> np.ndarray:
    """getAnnValue over each 2x2 xy window, including its order-dependent
    quirk (a v11 match onto a zero running value takes v10)."""
    v00, v01 = arr[:, 0::2, 0::2], arr[:, 0::2, 1::2]
    v10, v11 = arr[:, 1::2, 0::2], arr[:, 1::2, 1::2]
    a = np.where(v00 == 0, v01, v00)
    b = np.where((v10 != 0) & (a == 0), v10, np.where((v10 != 0) & ((v10 == v00) | (v10 == v01)), v10, a))
    return np.where(
        (v11 != 0) & (b == 0),
        v10,
        np.where((v11 != 0) & ((v11 == v00) | (v11 == v01) | (v11 == v10)), v11, b),
    )


# ---------------------------------------------------------------------------
# PNG reader for the tile check (independent of the engine's encoder)
# ---------------------------------------------------------------------------


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_gray8(data: bytes) -> np.ndarray:
    """Decode a non-interlaced 8-bit grayscale PNG into an (h, w) array."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, hdr = 8, [], None
    while pos < len(data):
        (n,) = struct.unpack(">I", data[pos : pos + 4])
        tag, body = data[pos + 4 : pos + 8], data[pos + 8 : pos + 8 + n]
        if tag == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        pos += 12 + n
    w, h, depth, color, _, _, interlace = hdr
    if (depth, color, interlace) != (8, 0, 0):
        raise ValueError(f"unsupported PNG header {hdr}")
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8).reshape(h, w + 1)
    out = np.zeros((h, w), dtype=np.uint8)
    prev = np.zeros(w, dtype=np.int64)
    for r in range(h):
        f, line = raw[r, 0], raw[r, 1:].astype(np.int64)
        if f == 0:
            cur = line
        elif f == 2:
            cur = (line + prev) & 0xFF
        else:  # Sub, Average and Paeth depend on the decoded left neighbour
            cur = np.zeros(w, dtype=np.int64)
            for i in range(w):
                left = cur[i - 1] if i else 0
                up_left = prev[i - 1] if i else 0
                pred = {1: left, 3: (left + prev[i]) // 2, 4: _paeth(left, prev[i], up_left)}[int(f)]
                cur[i] = (line[i] + pred) & 0xFF
        out[r] = cur
        prev = cur
    return out
