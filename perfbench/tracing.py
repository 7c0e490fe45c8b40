"""Spans around the engine's public functions, and the Spark event-log reader.

The benchmark records every span from its own side of the call: `Tracer`
replaces public functions of spdb_spark's modules (and the DataFrame /
DataFrameWriter methods they call) with timing wrappers for the traced
phase and puts the originals back afterwards. Spans carry name, start,
end, parent and op id and stay in memory until the run ends.

Executor-side work is attributed per op from the Spark event log: each
op runs under `sc.setJobGroup(<op id>)`; sub-steps whose executor work
should be separable (a publish, a pyramid level) get `<op id>:<suffix>`.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[list] = []  # [name, start, end, parent, op_id]
        self.counts: dict[tuple[str, str], float] = defaultdict(float)  # (op_id, counter)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_id = "setup"
        self.op_kind = "setup"
        self._group = None
        self._level_span: int | None = None

    # -- ops and job groups ---------------------------------------------------

    def set_group(self, group: str | None) -> None:
        self._group = group
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def begin_op(self, op_id: str, kind: str) -> None:
        self.op_id, self.op_kind = op_id, kind
        self.set_group(op_id)

    def end_op(self) -> None:
        self._close_level()
        self.op_id = self.op_kind = "idle"
        self.set_group(None)

    # -- spans ----------------------------------------------------------------

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        if idx in self._stack:
            self._stack.remove(idx)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def _close_level(self) -> None:
        if self._level_span is not None:
            self._close(self._level_span)
            self._level_span = None

    # -- wrappers -------------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def _timed(self, owner, attr: str, name: str, after=None) -> None:
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    out = orig(*args, **kwargs)
                if after is not None:
                    after(args, kwargs, out)
                return out
            return wrapper
        self._patch(owner, attr, make)

    def install(self) -> None:
        """Wrap the public functions of spatialdb, store, codec,
        operators.voxel, operators.render, catalog and morton, plus the
        Spark calls the store makes to collect and write."""
        import spdb_spark.catalog as catalog
        import spdb_spark.operators.render as render
        import spdb_spark.operators.voxel as voxel
        import spdb_spark.spatialdb as spatialdb
        import spdb_spark.store as store

        for m in ("cutout", "xy_image", "write_cuboid", "get_ids_in_region",
                  "get_bounding_box", "downsample", "reserve_ids", "register"):
            self._timed(spatialdb.SpatialDB, m, f"spatialdb.{m}")
        for m in ("blocks", "cutout_voxels"):
            self._timed(store.CuboidStore, m, "store.plan")
        self._patch(store.CuboidStore, "voxels", self._voxels_wrapper)
        self._timed(store.CuboidStore, "cutout", "store.cutout")
        self._timed(store.CuboidStore, "write_cuboid", "store.write_cuboid")
        self._patch(store.OverwritePublisher, "publish", self._publish_wrapper)

        probe = self.spark.range(0)
        for cls, m in ((type(probe), "toPandas"), (type(probe), "collect")):
            self._timed(cls, m, "store.collect")
        self._patch(type(probe.write), "parquet", self._parquet_wrapper)

        def packed(args, kwargs, out):
            self.counts[(self.op_id, "pack_raw_bytes")] += args[0].nbytes
            self.counts[(self.op_id, "pack_out_bytes")] += len(out)
        # store binds codec.pack_array and morton.xyz_morton by name
        self._timed(store, "pack_array", "codec.pack_array", packed)

        def morton_counter(orig):
            def wrapper(*args, **kwargs):
                self.counts[(self.op_id, "xyz_morton_calls")] += 1
                return orig(*args, **kwargs)
            return wrapper
        self._patch(store, "xyz_morton", morton_counter)

        for f in ("ids_in_region", "tight_bounding_box", "downsample_image_avg",
                  "downsample_annotation"):
            self._timed(voxel, f, f"operators.voxel.{f}")

        def png_bytes(args, kwargs, out):
            self.counts[(self.op_id, "png_bytes")] += len(out)
        self._timed(render, "png_encode", "operators.render.png_encode", png_bytes)
        # spatialdb binds catalog.reserve_ids by name; save_resource is
        # imported at call time
        self._timed(spatialdb, "_reserve_ids", "catalog.reserve_ids")
        self._timed(catalog, "save_resource", "catalog.save_resource")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _voxels_wrapper(self, orig):
        def wrapper(store_self, resolution: int = 0):
            if self.op_kind == "downsample":
                # build_pyramid reads level L-1 to start level L
                self._close_level()
                level = resolution + 1
                # a level covers several of the facade's child calls, so it
                # stays outside the span tree: no parent, no children
                self.spans.append([f"operators.voxel.level.L{level}", time.perf_counter(),
                                   None, -1, self.op_id])
                self._level_span = len(self.spans) - 1
                self.set_group(f"{self.op_id}:L{level}")
            with self.span("store.plan"):
                return orig(store_self, resolution)
        return wrapper

    def _publish_wrapper(self, orig):
        def wrapper(*args, **kwargs):
            outer = self._group
            self.set_group(f"{outer}:publish" if outer else None)
            try:
                with self.span("store.publish"):
                    return orig(*args, **kwargs)
            finally:
                self.set_group(outer)
        return wrapper

    def _parquet_wrapper(self, orig):
        def wrapper(writer, path, *args, **kwargs):
            name = "store.stage" if ".stage-" in str(path) else "store.publish_write"
            with self.span(name):
                return orig(writer, path, *args, **kwargs)
        return wrapper

    # -- span arithmetic ------------------------------------------------------

    def closed_spans(self) -> list[tuple]:
        return [tuple(s) for s in self.spans if s[2] is not None]

    def self_times(self) -> list[float]:
        """Duration minus the time covered by direct child spans, per span."""
        spans = self.spans
        child = [0.0] * len(spans)
        for s in spans:
            if s[2] is not None and s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        return [
            (s[2] - s[1] - child[i]) if s[2] is not None else 0.0
            for i, s in enumerate(spans)
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op in self.closed_spans():
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "op": op}) + "\n")


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_PY_NODES = ("MapInPandas", "FlatMapGroupsInPandas")
GROUP_METRICS = ("jobs", "tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "sched_delay_ms",
                 "decode_rows", "py_out_bytes", "py_run_ms", "scan_rows", "written_bytes",
                 "written_rows")


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files of every application under `log_dir`, in order
    (rolling logs are directories of events_<n>_<app> files)."""
    out = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            out += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        elif not entry.endswith((".inprogress", ".crc")):
            out.append(entry)
    return out


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Sum executor and SQL metrics per job group.

    Returns {group: {metric: value}} over GROUP_METRICS: jobs, tasks,
    failed_tasks, executor_run_ms, executor_cpu_ms, gc_ms,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes, sched_delay_ms
    (task launch minus stage submission), decode_rows (MapInPandas output
    rows), py_out_bytes, py_run_ms (Python UDF nodes), scan_rows (parquet
    scan output rows), written_bytes and written_rows (file writes)."""
    acc_names: dict[int, tuple[str, str]] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GROUP_METRICS, 0.0))
    pending_driver: list[tuple[int, int, int]] = []

    def walk(node):
        for m in node.get("metrics", []):
            acc_names[m["accumulatorId"]] = (node["nodeName"], m["name"])
        for ch in node.get("children", []):
            walk(ch)

    def sql_metric(group, node, name, value):
        g = out[group]
        if node.startswith("Scan parquet") and name == "number of output rows":
            g["scan_rows"] += value
        elif node == "MapInPandas" and name == "number of output rows":
            g["decode_rows"] += value
        elif node in _PY_NODES and name == "data returned from Python workers":
            g["py_out_bytes"] += value
        elif node in _PY_NODES and name == "time to run Python workers":
            g["py_run_ms"] += value
        elif node.startswith("Execute InsertInto") and name == "written output":
            g["written_bytes"] += value
        elif node.startswith("Execute InsertInto") and name == "number of output rows":
            g["written_rows"] += value

    for line in lines:
        e = json.loads(line)
        ev = e["Event"]
        if "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if info.get("Submission Time") is not None:
                stage_submit[info["Stage ID"]] = info["Submission Time"]
        elif ev == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group is None:
                continue
            g, info = out[group], e["Task Info"]
            m = e.get("Task Metrics") or {}
            g["tasks"] += 1
            if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
                g["failed_tasks"] += 1
            g["executor_run_ms"] += m.get("Executor Run Time", 0)
            g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics", {})
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            submitted = stage_submit.get(e["Stage ID"])
            if submitted is not None:
                g["sched_delay_ms"] += max(0, info["Launch Time"] - submitted)
            for a in info.get("Accumulables", []):
                name = acc_names.get(a["ID"])
                if name is not None and "Update" in a:
                    sql_metric(group, name[0], name[1], float(a["Update"]))
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for aid, value in e["accumUpdates"]:
                pending_driver.append((e["executionId"], aid, value))
    # driver-side updates (file writes, scan listings) can precede the job
    # start that names their execution's group, so resolve them last
    for exec_id, aid, value in pending_driver:
        group, name = exec_group.get(exec_id), acc_names.get(aid)
        if group is not None and name is not None:
            sql_metric(group, name[0], name[1], float(value))
    return dict(out)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    def lines():
        for path in event_log_files(log_dir):
            with open(path) as f:
                yield from f
    return parse_event_log(lines())
