"""Spatial-engine benchmark: seeded workloads through the SpatialDB facade.

    python3 perfbench/run.py --workload em_viewer --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client drives the public
`spdb_spark.spatialdb.SpatialDB` API in a closed loop on Spark
`local[<cores>]`: it sends the next request only when the previous one has
returned. Each workload repeats whole rounds of its seeded op list until
`--seconds` have passed, checks every result against a numpy shadow copy
outside the timed interval, and prints a readable report followed, as the
last line of stdout, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics. `--trace 1` turns on the Spark
event log, runs the rounds once untraced and once with spans around the
engine's public functions, and reports the per-layer metrics plus the
tracing overhead (traced minus untraced). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

WORKLOADS = ("em_viewer", "anno_proofread", "pyramid_build")
MAX_ROUNDS = 64
# Request kinds grouped the way the metrics report them.
KIND = {"cutout": "cutout", "fcut": "cutout", "tile": "tile", "write": "write",
        "erase": "write", "ids": "ids", "bbox": "bbox", "downsample": "downsample"}
OP_KINDS = ("cutout", "tile", "write", "ids", "bbox", "downsample")
SESSION_METRICS = ("executor_run_ms", "executor_cpu_ms", "gc_ms", "tasks", "failed_tasks",
                   "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "sched_delay_ms")


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least `beyond`
    samples above it, or None when that percentile would not sit above the
    median (fewer than 2 * beyond + 1 samples)."""
    n = len(samples)
    if n <= 2 * beyond:
        return None
    k = n - beyond - 1  # 0-based rank with exactly `beyond` samples after it
    return 100.0 * (k + 1) / n, sorted(samples)[k]


# ---------------------------------------------------------------------------
# The closed loop
# ---------------------------------------------------------------------------


class Client:
    """Sends one request at a time, times it, then checks the result."""

    def __init__(self):
        self.requests: list[dict] = []
        self.checks_failed = 0
        self.checks = 0
        self.tracer = None
        self.phase = "A"

    def request(self, kind: str, fn, check=None, timed: bool = True, **info):
        op_id = f"{self.phase}{len(self.requests)}"
        if self.tracer is not None:
            self.tracer.begin_op(op_id, KIND.get(kind, kind))
        t0 = time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception:
            traceback.print_exc()
            out, ok = None, False
        ms = (time.perf_counter() - t0) * 1e3
        if self.tracer is not None:
            self.tracer.end_op()
        if ok and check is not None:
            try:
                ok = bool(check(out))
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                print(f"mismatch: {kind} {info.get('corner', '')}", file=sys.stderr)
        self.requests.append({"op": op_id, "kind": kind, "ms": ms, "ok": ok,
                              "timed": timed, "phase": self.phase, **info})
        print(f"request {op_id} {kind} {ms:.1f} ms {'ok' if ok else 'FAILED'}", file=sys.stderr)
        return out, ok

    def check(self, what: str, ok_fn) -> bool:
        """A verification outside any request (e.g. read-back at the end)."""
        self.checks += 1
        try:
            ok = bool(ok_fn())
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            self.checks_failed += 1
            print(f"check failed: {what}", file=sys.stderr)
        return ok


def table_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def files_per_partition(path: str) -> float:
    counts = [
        sum(1 for f in files if f.endswith(".parquet"))
        for dirpath, _, files in os.walk(path)
        if os.path.basename(dirpath).startswith("pgroup=")
    ]
    return statistics.mean(counts) if counts else 0.0


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class EmViewer:
    """Read-only viewer traffic on a textured uint8 image."""

    round_len = W.EM_ROUND_LEN

    def __init__(self, sdb, seed: int):
        from spdb_spark.spatialdb import make_resource

        self.sdb = sdb
        self.res = make_resource("em", "image", "uint8", levels=1, extent=W.EM_EXTENT)
        self.vol = W.textured_volume(np.random.default_rng([seed, 0]), W.EM_EXTENT)
        self.ops = W.em_viewer_ops(seed, MAX_ROUNDS)

    def setup(self, client: Client) -> None:
        self.sdb.register(self.res)
        self.sdb.write_cuboid(self.res, (0, 0, 0), 0, self.vol)
        client.phase = "W"  # warm-up: one untimed request of each type
        self.run_op(client, {"kind": "tile", "corner": (0, 0), "extent": (W.EM_TILE, W.EM_TILE), "z": 0}, False)
        self.run_op(client, {"kind": "cutout", "cls": "sub", "corner": (8, 8, 0), "extent": W.EM_SUB_BOX}, False)

    def run_op(self, client: Client, op: dict, timed: bool = True) -> None:
        sdb, res, vol = self.sdb, self.res, self.vol
        if op["kind"] == "tile":
            (x0, y0), (dx, dy), z = op["corner"], op["extent"], op["z"]
            client.request(
                "tile", lambda: sdb.xy_image(res, (x0, y0), (dx, dy), 0, z),
                lambda png: np.array_equal(W.png_gray8(png), vol[z, y0 : y0 + dy, x0 : x0 + dx]),
                timed, vox=dx * dy, cuboids=1, corner=(x0, y0, z))
        else:
            (x0, y0, z0), (dx, dy, dz) = op["corner"], op["extent"]
            client.request(
                "cutout", lambda: sdb.cutout(res, op["corner"], op["extent"], 0),
                lambda a: a.shape == (1, dz, dy, dx)
                and np.array_equal(a[0], vol[z0 : z0 + dz, y0 : y0 + dy, x0 : x0 + dx]),
                timed, vox=dx * dy * dz, cuboids=W.cuboids_in_box(op["corner"], op["extent"]),
                corner=op["corner"])

    def finish(self, client: Client) -> None:
        pass

    def user_bytes(self) -> int:
        return int(np.count_nonzero(self.vol)) * self.vol.itemsize

    def tables(self) -> list[str]:
        return [self.sdb._store(self.res).path]


class AnnoProofread:
    """Paint, erase and query a sparse uint64 annotation channel."""

    round_len = W.ANNO_ROUND_LEN

    def __init__(self, sdb, seed: int):
        from spdb_spark.spatialdb import make_resource

        self.sdb = sdb
        self.seed = seed
        self.res = make_resource("anno", "annotation", "uint64", levels=1, extent=W.ANNO_EXTENT)
        self.shadow = W.Shadow("uint32")  # ids stay far below 2**32
        self.ops = W.anno_proofread_ops(seed, MAX_ROUNDS)
        self.next_id = 1
        self.cur_id = 0

    def setup(self, client: Client) -> None:
        sdb, res = self.sdb, self.res
        sdb.register(res)
        n_base = 8 * W.ANNO_OBJECTS_PER_CUBOID
        # reserve the ingest's ids first, as a labelling pipeline would
        base = sdb.reserve_ids(res, n_base)
        client.check("reserve_ids for ingest", lambda: np.array_equal(base, np.arange(1, n_base + 1)))
        self.next_id = n_base + 1
        labels = W.sparse_labels(np.random.default_rng([self.seed, 0]), W.ANNO_REGION, n_base,
                                 per_cuboid=True)
        corner = (W.ANNO_X0, 0, 0)
        sdb.write_cuboid(res, corner, 0, labels)
        self.shadow.write(corner, labels)
        del labels
        client.phase = "W"
        c = (W.ANNO_X0 + 200, 200, 4)
        m = np.zeros((8, 128, 128), dtype=bool)
        m[2:6, 30:90, 30:90] = True
        for op in ({"kind": "reserve"}, {"kind": "write", "corner": c, "mask": m},
                   {"kind": "ids", "corner": c, "extent": W.ANNO_EDIT_BOX}, {"kind": "bbox"},
                   {"kind": "fcut", "corner": c, "extent": W.ANNO_EDIT_BOX}):
            self.run_op(client, op, False)

    def run_op(self, client: Client, op: dict, timed: bool = True) -> None:
        sdb, res, shadow, kind = self.sdb, self.res, self.shadow, op["kind"]
        if kind == "reserve":
            want = self.next_id
            client.request("reserve", lambda: sdb.reserve_ids(res, 1),
                           lambda ids: list(ids) == [want], timed)
            self.next_id += 1
            self.cur_id = want
        elif kind in ("write", "erase"):
            data = op["mask"].astype(np.uint64) * np.uint64(self.cur_id if kind == "write" else 1)
            dz, dy, dx = data.shape
            _, ok = client.request(
                kind, lambda: sdb.write_cuboid(res, op["corner"], 0, data, to_black=kind == "erase"),
                None, timed, vox=data.size, in_bytes=data.nbytes, corner=op["corner"],
                cuboids=W.cuboids_in_box(op["corner"], (dx, dy, dz)))
            if ok:  # acknowledged: the store must now hold it
                shadow.write(op["corner"], data, "to_black" if kind == "erase" else "overwrite")
        elif kind == "ids":
            client.request(
                "ids", lambda: sdb.get_ids_in_region(res, 0, op["corner"], op["extent"]),
                lambda out: out == {"ids": shadow.ids_in_region(op["corner"], op["extent"])},
                timed, corner=op["corner"], cuboids=W.cuboids_in_box(op["corner"], op["extent"]))
        elif kind == "bbox":
            obj = self.cur_id
            client.request("bbox", lambda: sdb.get_bounding_box(res, 0, obj, "tight"),
                           lambda out: out == shadow.tight_bbox(obj), timed)
        elif kind == "fcut":
            obj, (dx, dy, dz) = self.cur_id, op["extent"]

            def expected():
                a = shadow.read(op["corner"], op["extent"])
                a[a != obj] = 0
                return a
            client.request(
                "fcut", lambda: sdb.cutout(res, op["corner"], op["extent"], 0, filter_ids=[obj]),
                lambda a: a.shape == (1, dz, dy, dx) and np.array_equal(a[0], expected()),
                timed, vox=dx * dy * dz, corner=op["corner"],
                cuboids=W.cuboids_in_box(op["corner"], op["extent"]))

    def finish(self, client: Client) -> None:
        """Every acknowledged write reads back through a fresh SpatialDB.
        All writes, the ingest included, lie inside ANNO_REGION, so one
        read of the region covers them."""
        from spdb_spark.spatialdb import SpatialDB

        fresh = SpatialDB(self.sdb.spark, self.sdb.root_path)
        client.check("registry", lambda: fresh.load_resource(self.res.lookup_key) is not None)
        corner = (W.ANNO_X0, 0, 0)
        client.check("read-back", lambda: np.array_equal(
            fresh.cutout(self.res, corner, W.ANNO_REGION, 0)[0],
            self.shadow.read(corner, W.ANNO_REGION)))

    def user_bytes(self) -> int:
        return self.shadow.nonzero_count() * np.dtype("uint64").itemsize

    def tables(self) -> list[str]:
        return [self.sdb._store(self.res).path]


class PyramidBuild:
    """Batch resolution-pyramid builds of an image and an annotation channel."""

    round_len = 2

    def __init__(self, sdb, seed: int):
        from spdb_spark.spatialdb import make_resource

        self.sdb = sdb
        rng = np.random.default_rng([seed, 0])
        self.img = W.textured_volume(rng, W.PYR_IMAGE_EXTENT)
        self.anno = W.sparse_labels(rng, W.PYR_ANNO_EXTENT, 2 * W.PYR_OBJECTS_PER_CUBOID, per_cuboid=True)
        self.res_img = make_resource("pimg", "image", "uint8", W.PYR_LEVELS, W.PYR_IMAGE_EXTENT)
        self.res_anno = make_resource("panno", "annotation", "uint64", W.PYR_LEVELS, W.PYR_ANNO_EXTENT)
        self.ops = [{"kind": "downsample", "res": r, "vol": v} for _ in range(MAX_ROUNDS)
                    for r, v in ((self.res_img, self.img), (self.res_anno, self.anno))]
        # warm-up channels: one small cuboid each, one level
        warm_anno = W.sparse_labels(rng, (64, 64, 4), 0)
        warm_anno[1:3, 10:30, 5:40] = 7
        self.warm = [(make_resource("wimg", "image", "uint8", 2, (64, 64, 4)),
                      W.textured_volume(rng, (64, 64, 4))),
                     (make_resource("wanno", "annotation", "uint64", 2, (64, 64, 4)), warm_anno)]

    def _base_voxels(self, vol: np.ndarray) -> int:
        cx, cy, cz = W.CUBOID
        nz, ny, nx = vol.shape
        return (nx // cx) * (ny // cy) * (nz // cz) * cx * cy * cz

    def setup(self, client: Client) -> None:
        for res, vol in ((self.res_img, self.img), (self.res_anno, self.anno), *self.warm):
            self.sdb.register(res)
            self.sdb.write_cuboid(res, (0, 0, 0), 0, vol)
        client.phase = "W"  # warm-up: one untimed downsample of each channel type
        for res, _ in self.warm:
            client.request("downsample", lambda r=res: self.sdb.downsample(r), None, False)

    def run_op(self, client: Client, op: dict, timed: bool = True) -> None:
        res, vol = op["res"], op["vol"]
        n = self._base_voxels(vol)
        client.request("downsample", lambda: self.sdb.downsample(res), None, timed,
                       vox=n, in_bytes=n * vol.itemsize, channel=res.channel.name)

    def finish(self, client: Client) -> None:
        """Every built level equals the numpy reference, read at level >= 1."""
        checks = ((self.res_img, self.img, W.downsample_image_avg_ref),
                  (self.res_anno, self.anno, W.downsample_annotation_ref))
        for res, vol, ref in checks:
            expect = vol
            ok_all = True
            for level in range(1, W.PYR_LEVELS):
                expect = ref(expect)
                ok_all &= client.check(f"{res.channel.name} level {level}", lambda e=expect, lv=level: np.array_equal(
                    self.sdb.cutout(res, (0, 0, 0), (e.shape[2], e.shape[1], e.shape[0]), lv)[0], e))
            if not ok_all:  # a wrong pyramid makes every build of it a failed op
                for r in client.requests:
                    if r.get("channel") == res.channel.name:
                        r["ok"] = False

    def user_bytes(self) -> int:
        return sum(int(np.count_nonzero(v)) * v.itemsize for v in (self.img, self.anno))

    def tables(self) -> list[str]:
        return [self.sdb._store(r).path for r in (self.res_img, self.res_anno)]


CLASSES = {"em_viewer": EmViewer, "anno_proofread": AnnoProofread, "pyramid_build": PyramidBuild}


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def _timed(reqs, phase):
    return [r for r in reqs if r["timed"] and r["phase"] == phase and r["kind"] != "reserve"]


def end_to_end(reqs: list[dict]) -> dict[str, float]:
    """req_p50_ms and mvox_s over timed requests (reserve_ids, a sub-ms
    counter bump, is left out of both)."""
    ms = [r["ms"] for r in reqs]
    vox = sum(r.get("vox", 0) for r in reqs)
    return {"req_p50_ms": statistics.median(ms), "mvox_s": vox / 1e6 / (sum(ms) / 1e3)}


def per_type_report(reqs: list[dict]) -> list[str]:
    """Readable lines for the per-op-type metrics of this workload."""
    lines = []
    groups = {"cutout": ("cutout", "fcut"), "tile": ("tile",), "write": ("write", "erase"),
              "idq": ("ids", "bbox"), "pyramid": ("downsample",)}
    for name, kinds in groups.items():
        rs = [r for r in reqs if r["kind"] in kinds]
        if not rs:
            continue
        ms = [r["ms"] for r in rs]
        vox = sum(r.get("vox", 0) for r in rs)
        if name != "pyramid":
            lines.append(f"{name}_p50_ms {statistics.median(ms):.3f} ms (n={len(ms)})")
            t = tail(ms)
            lines.append(f"{name}_tail_ms " + (
                f"{t[1]:.3f} ms (p{t[0]:.1f}, n={len(ms)})" if t else
                f"omitted: n={len(ms)} leaves no percentile with 10 samples above it over the median"))
        if vox and name in ("cutout", "write", "pyramid"):
            lines.append(f"{name}_mvox_s {vox / 1e6 / (sum(ms) / 1e3):.4f} Mvox/s")
    return lines


def peak_rss_mb(spark) -> float:
    """Peak RSS of this driver process plus the Spark JVM it launched."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def per_layer(client: Client, tracer, events: dict, untraced: dict, traced: dict,
              table_paths: list[str]) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced phase (B), by the names in BENCHMARK.json."""
    reqs = [r for r in client.requests if r["phase"] == "B" and r["kind"] != "reserve"]
    by_op = {r["op"]: r for r in client.requests}
    n = max(len(reqs), 1)
    spans = tracer.spans
    self_t = tracer.self_times()
    m: dict[str, tuple[float, str]] = {}

    def in_b(s):
        return s[4].startswith("B")

    def dur(s):
        return (s[2] - s[1]) * 1e3 if s[2] is not None else 0.0

    def mean(xs):
        return statistics.mean(xs) if xs else 0.0

    method = {"cutout": "cutout", "tile": "xy_image", "write": "write_cuboid",
              "ids": "get_ids_in_region", "bbox": "get_bounding_box", "downsample": "downsample"}
    for kind, meth in method.items():
        m[f"spatialdb.self_ms.{kind}"] = (mean([
            self_t[i] * 1e3 for i, s in enumerate(spans)
            if in_b(s) and s[0] == f"spatialdb.{meth}" and s[3] < 0
            and KIND.get(by_op[s[4]]["kind"]) == kind]), "ms")

    def span_sum(name, top_only=False):
        return sum(dur(s) for s in spans if in_b(s) and s[0] == name
                   and not (top_only and s[3] >= 0 and spans[s[3]][0] == name))

    m["store.plan_ms"] = (span_sum("store.plan", top_only=True) / n, "ms")
    m["store.collect_ms"] = (span_sum("store.collect", top_only=True) / n, "ms")
    m["store.assemble_ms"] = (mean([self_t[i] * 1e3 for i, s in enumerate(spans)
                                    if in_b(s) and s[0] == "store.cutout"]), "ms")

    def ev_sum(pred, key):
        return sum(g.get(key, 0.0) for grp, g in events.items()
                   if grp.split(":")[0] in by_op and by_op[grp.split(":")[0]]["phase"] == "B"
                   and pred(by_op[grp.split(":")[0]], grp))

    reads = [r for r in reqs if r["kind"] in ("cutout", "fcut", "tile", "ids")]
    read_ops = {r["op"] for r in reads}
    m["store.read_amp"] = (ev_sum(lambda r, g: r["op"] in read_ops, "scan_rows")
                           / max(sum(r["cuboids"] for r in reads), 1), "ratio")
    m["store.jobs_per_op"] = (ev_sum(lambda r, g: True, "jobs") / n, "count")
    writes = [r for r in reqs if KIND.get(r["kind"]) in ("write", "downsample")]
    nw = max(len(writes), 1)
    m["store.stage_ms"] = (span_sum("store.stage") / nw, "ms")
    m["store.publish_ms"] = (span_sum("store.publish") / nw, "ms")
    in_bytes = sum(r.get("in_bytes", 0) for r in writes)
    m["store.write_amp"] = (ev_sum(lambda r, g: KIND.get(r["kind"]) in ("write", "downsample"),
                                   "written_bytes") / max(in_bytes, 1), "ratio")
    pure = [r for r in writes if KIND.get(r["kind"]) == "write"]
    pure_ops = {r["op"] for r in pure}
    m["store.rewrite_amp"] = (ev_sum(lambda r, g: r["op"] in pure_ops and g.endswith(":publish"),
                                     "written_rows") / max(sum(r["cuboids"] for r in pure), 1), "ratio")
    m["store.files_per_partition"] = (mean([files_per_partition(p) for p in table_paths]), "count")

    vox_reads = [r for r in reqs if r["kind"] in ("cutout", "fcut", "tile")]
    vr_ops = {r["op"] for r in vox_reads}
    vox = max(sum(r["vox"] for r in vox_reads), 1)
    m["codec.decode_rows_per_voxel"] = (ev_sum(lambda r, g: r["op"] in vr_ops, "decode_rows") / vox, "rows/vox")
    m["codec.py_out_bytes_per_voxel"] = (ev_sum(lambda r, g: r["op"] in vr_ops, "py_out_bytes") / vox, "B/vox")
    m["codec.py_run_ms"] = (ev_sum(lambda r, g: True, "py_run_ms") / n, "ms")
    packs = [dur(s) for s in spans if s[0] == "codec.pack_array"]
    m["codec.pack_ms"] = (mean(packs), "ms")
    raw = sum(v for (op, k), v in tracer.counts.items() if k == "pack_raw_bytes")
    out = sum(v for (op, k), v in tracer.counts.items() if k == "pack_out_bytes")
    m["codec.pack_ratio"] = (raw / out if out else 0.0, "ratio")

    ds = [r for r in reqs if r["kind"] == "downsample"]
    for level in range(1, W.PYR_LEVELS):
        m[f"operators.voxel.level_ms.L{level}"] = (mean([
            dur(s) for s in spans if in_b(s) and s[0] == f"operators.voxel.level.L{level}"]), "ms")
        m[f"operators.voxel.shuffle_bytes.L{level}"] = (ev_sum(
            lambda r, g, lv=level: f":L{lv}" in g, "shuffle_write_bytes") / max(len(ds), 1), "B")
    idq = [r for r in reqs if r["kind"] in ("ids", "bbox")]
    idq_ops = {r["op"] for r in idq}
    m["operators.voxel.idq_rows_scanned"] = (ev_sum(lambda r, g: r["op"] in idq_ops, "decode_rows")
                                             / max(len(idq), 1), "rows")
    m["operators.render.png_ms"] = (mean([dur(s) for s in spans if in_b(s)
                                          and s[0] == "operators.render.png_encode"]), "ms")
    tiles = [r for r in reqs if r["kind"] == "tile"]
    m["operators.render.png_bytes"] = (sum(tracer.counts[(r["op"], "png_bytes")] for r in tiles)
                                       / max(len(tiles), 1), "B")
    m["catalog.reserve_ids_ms"] = (mean([dur(s) for s in spans if s[0] == "catalog.reserve_ids"]), "ms")
    m["catalog.save_resource_ms"] = (mean([dur(s) for s in spans if s[0] == "catalog.save_resource"]), "ms")
    cut_spans = [s for s in spans if in_b(s) and s[0] == "spatialdb.cutout"]
    calls = sum(v for (op, k), v in tracer.counts.items() if k == "xyz_morton_calls"
                and op in by_op and by_op[op]["phase"] == "B" and KIND.get(by_op[op]["kind"]) in ("cutout", "tile"))
    m["morton.calls_per_cutout"] = (calls / max(len(cut_spans), 1), "count")

    for kind in OP_KINDS:
        nk = max(sum(1 for r in reqs if KIND.get(r["kind"]) == kind), 1)
        for key in SESSION_METRICS:
            unit = "ms" if key.endswith("_ms") else ("B" if key.endswith("_bytes") else "count")
            m[f"session.{key}.{kind}"] = (ev_sum(lambda r, g, k=kind: KIND.get(r["kind"]) == k, key) / nk, unit)

    m["trace.overhead_p50_ms"] = (traced["req_p50_ms"] - untraced["req_p50_ms"], "ms")
    m["trace.overhead_mvox_s"] = (untraced["mvox_s"] - traced["mvox_s"], "Mvox/s")
    return m


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def _import_codec(batches):
    import time

    import spdb_spark.codec  # noqa: F401  (the import is the warm-up)

    time.sleep(0.5)  # keep the task on its worker so every core gets its own
    yield from batches


def warm_python_workers(spark, cores: int) -> None:
    """Start one Python worker per core, with pandas, pyarrow and
    spdb_spark.codec imported, as a serving process would have. Otherwise
    the first request that lands on a fresh worker pays about a second of
    worker start-up, and which request that is varies from run to run."""
    spark.range(cores, numPartitions=cores).mapInPandas(_import_codec, "id long").collect()


def stop_spark(spark) -> None:
    """Stop Spark, then end the JVM it runs in and wait for it: the JVM
    exits when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_rounds(wl, client: Client, start_round: int, seconds: float) -> int:
    """Whole rounds of the op list until `seconds` have passed; returns the
    next round index."""
    t0 = time.perf_counter()
    r = start_round
    while r == start_round or time.perf_counter() - t0 < seconds:
        if r >= MAX_ROUNDS:
            break
        for op in wl.ops[r * wl.round_len : (r + 1) * wl.round_len]:
            wl.run_op(client, op)
        r += 1
    return r


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spdb_spark")):
        print(f"spdb_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    out_dir = os.path.join(HERE, "out")
    tmp_dir = os.path.join(out_dir, "tmp")
    run_dir = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),  # get_spark defaults to 32
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPDB_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": tmp_dir,
        "TMPDIR": tmp_dir,
    })
    sys.path.insert(0, ROOT)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp_dir,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir}",
        "spark.sql.warehouse.dir": os.path.join(tmp_dir, "warehouse"),
    }
    event_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})

    t_setup = time.perf_counter()
    from spdb_spark.session import get_spark
    from spdb_spark.spatialdb import SpatialDB

    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark, cores)
    client = Client()
    tracer = None
    try:
        sdb = SpatialDB(spark, os.path.join(run_dir, "db"))
        wl = CLASSES[args.workload](sdb, args.seed)
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
            tracer.begin_op("setup", "setup")
            wl.setup(client)
            tracer.end_op()
            tracer.uninstall()
        else:
            wl.setup(client)
        setup_s = time.perf_counter() - t_setup

        # A traced run times untraced rounds (A), then traced rounds (B)
        # of the same op list; the overhead is B minus A.
        next_round = 0
        for phase in ("A", "B") if args.trace else ("A",):
            client.phase = phase
            if phase == "B":
                tracer.install()
                client.tracer = tracer
            next_round = run_rounds(wl, client, next_round, args.seconds / (2 if args.trace else 1))
            if phase == "B":
                client.tracer = None
                tracer.uninstall()
        wl.finish(client)
        tables = wl.tables()
        space_amp = sum(table_bytes(p) for p in tables) / wl.user_bytes()
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    reqs = client.requests
    e2e_a = end_to_end(_timed(reqs, "A"))
    failed = sum(1 for r in reqs if not r["ok"]) + client.checks_failed
    attempted = len(reqs) + client.checks
    print(f"workload {args.workload} seed {args.seed} cores {cores} trace {args.trace}")
    print(f"requests {len(reqs)} checks {client.checks} failed {failed}")
    for line in per_type_report(_timed(reqs, "A")):
        print(line)
    print(f"failed_frac {failed / attempted:.6f}")
    if args.trace:
        from tracing import read_event_log

        events = read_event_log(event_dir)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        e2e_b = end_to_end(_timed(reqs, "B"))
        layer = per_layer(client, tracer, events, e2e_a, e2e_b, tables)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        for k, (v, u) in layer.items():
            print(f"{k} {v:.6g} {u}")
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "req_p50_ms": {"value": e2e_a["req_p50_ms"], "unit": "ms"},
            "mvox_s": {"value": e2e_a["mvox_s"], "unit": "Mvox/s"},
            "space_amp": {"value": space_amp, "unit": "ratio"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
        for k, v in metrics.items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
