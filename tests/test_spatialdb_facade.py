"""SpatialDB facade: reference-shaped API end-to-end (the switch-over
surface for a reference user)."""

import numpy as np
import pytest

from spdb_spark.catalog import Channel, Collection, CoordinateFrame, Experiment, Resource
from spdb_spark.spatialdb import SpatialDB


@pytest.fixture()
def sdb(spark, tmp_path):
    return SpatialDB(spark, str(tmp_path / "sdb"))


def make_resource(name="ch1", ctype="image", dtype="uint8", levels=3):
    return Resource(
        Collection("col1"),
        Experiment("exp1", num_hierarchy_levels=levels, hierarchy_method="anisotropic"),
        CoordinateFrame("cf", 0, 2048, 0, 2048, 0, 64, x_voxel_size=4, y_voxel_size=4, z_voxel_size=35),
        Channel(name, ctype, dtype),
        lookup_key=f"1&1&{name}",
    )


def test_write_cutout_roundtrip(sdb):
    r = make_resource()
    rng = np.random.default_rng(9)
    data = rng.integers(1, 200, size=(16, 128, 128)).astype("uint8")
    sdb.write_cuboid(r, (0, 0, 0), 0, data)
    out = sdb.cutout(r, (0, 0, 0), (128, 128, 16))
    np.testing.assert_array_equal(out[0], data)


def test_write_resolution_guard(sdb):
    r = make_resource()
    with pytest.raises(ValueError):
        sdb.write_cuboid(r, (0, 0, 0), 2, np.zeros((16, 64, 64), dtype="uint8"))


def test_ids_in_region_and_bounding_boxes(sdb):
    r = make_resource("anno1", "annotation", "uint64")
    data = np.zeros((16, 128, 128), dtype="uint64")
    data[2:5, 10:20, 30:40] = 7
    data[8, 100, 100] = 9
    sdb.write_cuboid(r, (0, 0, 0), 0, data)
    ids = sdb.get_ids_in_region(r, 0, (0, 0, 0), (128, 128, 16))
    assert ids == {"ids": ["7", "9"]}
    tight = sdb.get_bounding_box(r, 0, 7, bb_type="tight")
    assert tight == {
        "x_range": [30, 40], "y_range": [10, 20], "z_range": [2, 5], "t_range": [0, 1],
    }
    loose = sdb.get_bounding_box(r, 0, 7, bb_type="loose")
    assert loose["x_range"] == [0, 512] and loose["z_range"] == [0, 16]
    assert sdb.get_bounding_box(r, 0, 12345) is None


def test_filtered_cutout_and_to_black(sdb):
    r = make_resource("anno2", "annotation", "uint64")
    data = np.zeros((16, 64, 64), dtype="uint64")
    data[0, 0, 0:4] = 5
    data[0, 1, 0:4] = 6
    sdb.write_cuboid(r, (0, 0, 0), 0, data)
    out = sdb.cutout(r, (0, 0, 0), (64, 64, 16), filter_ids=[5])
    assert set(np.unique(out)) == {0, 5}
    mask = np.zeros((16, 64, 64), dtype="uint64")
    mask[0, 0, :] = 1
    sdb.write_cuboid(r, (0, 0, 0), 0, mask, to_black=True)
    out2 = sdb.cutout(r, (0, 0, 0), (64, 64, 16))
    assert out2[0, 0, 0].sum() == 0 and (out2[0, 0, 1, 0:4] == 6).all()


def test_reserve_ids_sequential(sdb):
    r = make_resource("anno3", "annotation", "uint64")
    a = sdb.reserve_ids(r, 4)
    b = sdb.reserve_ids(r, 2)
    np.testing.assert_array_equal(a, np.arange(1, 5, dtype=np.uint64))
    np.testing.assert_array_equal(b, np.arange(5, 7, dtype=np.uint64))


def test_downsample_and_offres_annotation_cutout(sdb):
    """Dynamic resample of an off-base-res annotation read — the path the
    reference leaves NotImplemented (spatialdb.py:410-431)."""
    r = make_resource("anno4", "annotation", "uint64", levels=2)
    data = np.zeros((16, 64, 64), dtype="uint64")
    data[0, 0:2, 0:2] = 3
    sdb.write_cuboid(r, (0, 0, 0), 0, data)
    # BEFORE materialization: dynamic resample (stride of base resolution)
    dyn = sdb.cutout(r, (0, 0, 0), (4, 4, 16), resolution=1)
    assert dyn[0, 0, 0, 0] == 3
    # AFTER materialization: served from the stored level (getAnnValue)
    sdb.downsample(r)
    lvl1 = sdb.cutout(r, (0, 0, 0), (32, 32, 16), resolution=1)
    assert lvl1[0, 0, 0, 0] == 3


def test_write_after_downsample_resets_status(sdb):
    """A base write after a pyramid build makes the stored levels stale: the
    channel goes back to NOT_DOWNSAMPLED (durably), so an off-base
    annotation cutout resamples the new base data instead of reading the
    old level."""
    r = make_resource("anno6", "annotation", "uint64", levels=2)
    data = np.zeros((16, 8, 8), dtype="uint64")
    data[0, 0:2, 0:2] = 7
    sdb.write_cuboid(r, (0, 0, 0), 0, data)
    sdb.downsample(r)
    assert sdb.cutout(r, (0, 0, 0), (4, 4, 16), resolution=1)[0, 0, 0, 0] == 7
    sdb.write_cuboid(r, (0, 0, 0), 0, data + (data != 0) * np.uint64(2))
    assert r.channel.downsample_status == "NOT_DOWNSAMPLED"
    assert sdb.load_resource(r.lookup_key).channel.downsample_status == "NOT_DOWNSAMPLED"
    assert sdb.cutout(r, (0, 0, 0), (4, 4, 16), resolution=1)[0, 0, 0, 0] == 9
    # the id query answers from the same resampled read, not the stale level
    assert sdb.get_ids_in_region(r, 1, (0, 0, 0), (4, 4, 16)) == {"ids": ["9"]}


def test_zoom_in_annotation_cutout_at_odd_corners(sdb):
    """Below base resolution an annotation cutout replicates base voxels
    (zoomInData). Corners inside a base cell must still yield the full
    extent: corner x=3, extent 4 touches three base cells, not two."""
    r = make_resource("anno5", "annotation", "uint64")
    r.channel.base_resolution = 1
    rng = np.random.default_rng(11)
    base = rng.integers(1, 1000, size=(16, 40, 40)).astype("uint64")
    sdb.write_cuboid(r, (0, 0, 0), 1, base)
    zoomed = base.repeat(2, axis=1).repeat(2, axis=2)  # base viewed at res 0
    boxes = (((3, 5, 2), (4, 7, 5)), ((1, 2, 0), (9, 10, 16)), ((7, 0, 3), (1, 3, 1)))
    for corner, extent in boxes:
        (x, y, z), (dx, dy, dz) = corner, extent
        out = sdb.cutout(r, corner, extent, resolution=0)
        assert out.shape == (1, dz, dy, dx)
        np.testing.assert_array_equal(out[0], zoomed[z : z + dz, y : y + dy, x : x + dx])


def test_iso_channel_separate_store(sdb):
    r = make_resource("ch_iso")
    data = np.full((16, 64, 64), 9, dtype="uint8")
    sdb.write_cuboid(r, (0, 0, 0), 0, data, iso=True)
    # iso data lives under its own key; the non-iso store is empty
    assert sdb.cutout(r, (0, 0, 0), (64, 64, 16), iso=True)[0, 0, 0, 0] == 9
    assert sdb.cutout(r, (0, 0, 0), (64, 64, 16), iso=False).sum() == 0


def test_downsample_status_survives_restart(sdb, spark):
    """The DOWNSAMPLED transition must be durable: a fresh SpatialDB over
    the same root (a restarted session) sees it via the registry, and the
    catalog DataFrame reflects it."""
    r = make_resource("chps", "image", "uint8", levels=2)
    data = np.arange(1, 1 + 16 * 64 * 64, dtype=np.uint64).reshape(16, 64, 64)
    sdb.write_cuboid(r, (0, 0, 0), 0, (data % 250 + 1).astype("uint8"))
    assert r.channel.downsample_status == "NOT_DOWNSAMPLED"
    sdb.downsample(r)
    assert r.channel.downsample_status == "DOWNSAMPLED"

    reopened = SpatialDB(spark, sdb.root_path)
    r2 = reopened.load_resource(r.lookup_key)
    assert r2 is not None
    assert r2.channel.downsample_status == "DOWNSAMPLED"
    row = (
        reopened.catalog()
        .where(f"lookup_key = '{r.lookup_key}'")
        .select("channel.downsample_status")
        .first()
    )
    assert row[0] == "DOWNSAMPLED"


def test_xy_image_renders_cutout_plane(sdb):
    """Facade xy_image: grayscale PNG for image channels, RGBA false
    color for annotation channels, both decoding back to the cutout."""
    from spdb_spark.operators.render import false_color, png_decode

    r = make_resource("imgpng", "image", "uint8")
    rng = np.random.default_rng(3)
    data = rng.integers(1, 250, size=(16, 64, 64)).astype("uint8")
    sdb.write_cuboid(r, (0, 0, 0), 0, data)
    png = sdb.xy_image(r, (0, 0), (64, 64), z_index=5)
    np.testing.assert_array_equal(png_decode(png), data[5])

    ra = make_resource("annopng", "annotation", "uint64")
    adata = np.zeros((16, 64, 64), dtype="uint64")
    adata[2, 10:20, 30:40] = 7
    sdb.write_cuboid(ra, (0, 0, 0), 0, adata)
    apng = sdb.xy_image(ra, (0, 0), (64, 64), z_index=2)
    np.testing.assert_array_equal(png_decode(apng), false_color(adata[2]))
