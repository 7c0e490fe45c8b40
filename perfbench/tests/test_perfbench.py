"""Tests of the benchmark's own parts: seeded generation, the tail rule,
the shadow copy's merge rules against CuboidStore, and the event-log reader.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import workloads as W  # noqa: E402
from run import tail  # noqa: E402
from tracing import parse_event_log  # noqa: E402


def _same_ops(a, b):
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert x.keys() == y.keys()
        for k in x:
            if isinstance(x[k], np.ndarray):
                assert np.array_equal(x[k], y[k])
            else:
                assert x[k] == y[k]


def test_same_seed_same_inputs():
    _same_ops(W.em_viewer_ops(7, 4), W.em_viewer_ops(7, 4))
    _same_ops(W.anno_proofread_ops(7, 4), W.anno_proofread_ops(7, 4))
    rng = lambda: np.random.default_rng([7, 0])  # noqa: E731
    assert np.array_equal(W.textured_volume(rng(), (64, 64, 4)), W.textured_volume(rng(), (64, 64, 4)))
    assert np.array_equal(W.sparse_labels(rng(), (1024, 512, 16), 6, per_cuboid=True),
                          W.sparse_labels(rng(), (1024, 512, 16), 6, per_cuboid=True))
    assert W.em_viewer_ops(7, 4) != W.em_viewer_ops(8, 4)


def test_generated_geometry_keeps_its_classes():
    for op in W.em_viewer_ops(3, 20):
        if op["kind"] == "cutout":
            want = {"sub": 1, "aligned": 1, "unaligned": 8}[op["cls"]]
            assert W.cuboids_in_box(op["corner"], op["extent"]) == want
    ops = W.anno_proofread_ops(3, 5)
    assert len(ops) == 5 * W.ANNO_ROUND_LEN
    writes = [op for op in ops if op["kind"] == "write"]
    # every other paint straddles the super-block boundary
    for op in writes[1::2]:
        assert op["corner"][0] < W.ANNO_PGROUP_X < op["corner"][0] + W.ANNO_EDIT_BOX[0]
    for op in ops:
        if "corner" in op:
            x0, y0, z0 = op["corner"]
            assert W.ANNO_X0 <= x0 and x0 + W.ANNO_EDIT_BOX[0] <= W.ANNO_EXTENT[0]


def test_tail_rule():
    assert tail(list(range(20))) is None  # p50 would be the median itself
    pct, value = tail(list(range(21)))
    assert value == 10 and sum(1 for v in range(21) if v > value) == 10
    assert pct == pytest.approx(100 * 11 / 21)
    pct, value = tail([float(v) for v in reversed(range(100))])
    assert (pct, value) == (90.0, 89.0)


def test_downsample_refs():
    img = np.array([[[1, 3, 0, 0], [5, 0, 0, 0]]], dtype=np.uint8)  # [z=1, y=2, x=4]
    assert W.downsample_image_avg_ref(img).tolist() == [[[3, 0]]]
    ann = np.zeros((1, 2, 2), dtype=np.uint64)
    ann[0, 1, 1] = 9  # only v11 set: getAnnValue takes v10 (= 0)
    assert W.downsample_annotation_ref(ann).tolist() == [[[0]]]
    ann[0, 1, 0] = 4  # v10 set, v11 differs: running value stays v10
    assert W.downsample_annotation_ref(ann).tolist() == [[[4]]]


def test_png_reader_round_trips_engine_tiles():
    from spdb_spark.operators.render import png_encode

    arr = np.random.default_rng(0).integers(0, 256, size=(37, 53), dtype=np.uint8)
    assert np.array_equal(W.png_gray8(png_encode(arr)), arr)


def test_event_log_parser_on_recorded_log():
    """A recorded log of one 64x64x4 write (job group w1) into a uint8
    CuboidStore and one cutout (c1) from it on local[2]."""
    with open(os.path.join(HERE, "data", "small_eventlog.jsonl")) as f:
        groups = parse_event_log(f)
    assert set(groups) == {"w1", "c1"}
    c1, w1 = groups["c1"], groups["w1"]
    assert c1["jobs"] == 1 and c1["tasks"] >= 1 and c1["failed_tasks"] == 0
    assert c1["decode_rows"] == 64 * 64 * 4  # the whole stored cuboid decodes
    assert c1["scan_rows"] == 1
    assert c1["py_out_bytes"] > 0 and c1["py_run_ms"] > 0
    assert w1["written_rows"] == 2  # one cuboid row staged, then published
    assert w1["written_bytes"] > 0
    assert w1["jobs"] >= 2 and w1["executor_run_ms"] > 0
    assert w1["decode_rows"] == 0  # replace-mode ingest decodes nothing


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from spdb_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_shadow_merge_matches_store(spark, tmp_path):
    from spdb_spark.store import CuboidStore

    store = CuboidStore(spark, str(tmp_path / "t"), datatype="uint64")
    shadow = W.Shadow("uint64")
    rng = np.random.default_rng(5)
    base = np.zeros((16, 64, 64), dtype=np.uint64)
    base[2:9, 10:40, 5:50] = 3
    paint = np.zeros((8, 32, 32), dtype=np.uint64)
    paint[1:6, 4:28, 4:28] = rng.integers(0, 3, size=(5, 24, 24)) * 7  # zeros keep old
    erase = np.zeros((8, 32, 32), dtype=np.uint64)
    erase[3:8, :, :16] = 1
    erase[0, 0, 0] = 2  # only exactly 1 erases
    for corner, data, mode in (((0, 0, 0), base, "overwrite"), ((20, 16, 4), paint, "overwrite"),
                               ((20, 16, 4), erase, "to_black")):
        store.write_cuboid(data, corner, mode=mode)
        shadow.write(corner, data, mode)
        got = store.cutout((0, 0, 0), (64, 64, 16))[0]
        assert np.array_equal(got, shadow.read((0, 0, 0), (64, 64, 16))), mode
