"""Per-layer tracing from outside the program.

The traced window wraps the package's public calls at their module
boundaries (the attribute the caller looks up, so the program's code is
untouched), tags each timed operation's Spark jobs with a job group, and
afterwards parses Spark's own event log for the engine counters. Spans
live in memory and are reduced once the window ends.

Untraced runs never construct a :class:`Tracer`; nothing here is
installed unless the run asked for tracing.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

from metrics import OP_TYPES

# (module path, attribute, span key). Catalog methods are patched on the
# class; the rest on the module whose global the caller resolves.
_CATALOG = [
    ("read", "catalog.read"), ("read_at", "catalog.read"),
    ("read_meta", "catalog.read"),
    ("write", "catalog.commit"), ("commit_tables", "catalog.commit"),
    ("overwrite_partitions", "catalog.commit"),
    ("stage_partition_delta", "catalog.stage_delta"),
    ("stage_table", "catalog.stage_delta"),
    ("append", "catalog.append"), ("append_once", "catalog.append"),
    ("append_once_files", "catalog.append"),
]
_OPERATORS = [
    ("daily_top_songs_etl_spark.pipeline", "upsert"),
    ("daily_top_songs_etl_spark.pipeline", "merge_song"),
    ("daily_top_songs_etl_spark.pipeline", "maintain"),
    ("daily_top_songs_etl_spark.pipeline", "validate_ranking"),
    ("daily_top_songs_etl_spark.pipeline", "assign_positional_ranks"),
    ("daily_top_songs_etl_spark.streaming.sketch_stream", "cms_build"),
    ("daily_top_songs_etl_spark.streaming.sketch_stream", "kmv_sketch"),
]
_DRAINS = [
    ("daily_top_songs_etl_spark.streaming.daily_stream", "run_landing_stream"),
    ("daily_top_songs_etl_spark.streaming.vector_stream",
     "run_vector_ingest_stream"),
    ("daily_top_songs_etl_spark.streaming.sketch_stream", "run_sketch_stream"),
]
# the per-micro-batch body each drain calls, by the name it resolves
_BATCH_BODIES = [
    ("daily_top_songs_etl_spark.streaming.daily_stream", "run_daily_batch"),
    ("daily_top_songs_etl_spark.streaming.vector_stream",
     "append_to_ann_index"),
    ("daily_top_songs_etl_spark.streaming.sketch_stream",
     "merge_sketch_batch"),
]
_ACTIONS = ["collect", "first", "count", "isEmpty", "localCheckpoint",
            "take", "head", "toPandas"]
_WRITES = ["save", "parquet", "saveAsTable", "insertInto"]


class Tracer:
    """Collects spans for the operations of one traced window."""

    def __init__(self, catalog_roots_fn):
        self._roots = catalog_roots_fn
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.ops: list[dict] = []
        self._cur: dict | None = None
        self._snap: dict | None = None

    # ---------------------------------------------------------------- spans
    def _depth(self, key: str) -> int:
        return getattr(self._tls, key, 0)

    def _enter(self, key: str) -> None:
        setattr(self._tls, key, self._depth(key) + 1)

    def _exit(self, key: str) -> None:
        setattr(self._tls, key, self._depth(key) - 1)

    def _add(self, key: str, value: float) -> None:
        with self._lock:
            if self._cur is not None:
                self._cur["acc"][key] += value

    def _wrap(self, owner, attr: str, on_done, group: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **kw):
            outer = tracer._depth(group) == 0
            tracer._enter(group)
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                tracer._exit(group)
                if outer:
                    on_done(time.perf_counter() - t0)

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from daily_top_songs_etl_spark.catalog import Catalog

        for attr, key in _CATALOG:
            if hasattr(Catalog, attr):
                self._wrap(Catalog, attr,
                           lambda dt, k=key: self._add(k + "_s", dt),
                           "catalog")

        def op_done(dt):
            self._add("operators.build_s", dt)

        for mod, attr in _OPERATORS:
            m = importlib.import_module(mod)
            self._wrap(m, attr, op_done, "operators")

        def drain_done(dt):
            self._add("streaming.drain_s", dt)
            self._add("streaming.drains", 1)

        for mod, attr in _DRAINS:
            self._wrap(importlib.import_module(mod), attr, drain_done,
                       "drain")

        def batch_done(dt, pipeline: bool):
            self._add("streaming.micro_batch_s", dt)
            self._add("streaming.micro_batches", 1)
            if pipeline:
                self._add("pipeline.batch_s", dt)
                self._add("pipeline.batches", 1)

        for mod, attr in _BATCH_BODIES:
            self._wrap(importlib.import_module(mod), attr,
                       lambda dt, p=(attr == "run_daily_batch"):
                       batch_done(dt, p),
                       "batch")

        def action_done(dt):
            self._add("actions_s", dt)
            if self._depth("operators") > 0:
                self._add("actions_in_operators_s", dt)
            if self._depth("batch") > 0:
                self._add("pipeline.driver_actions", 1)
                self._add("pipeline.driver_action_s", dt)

        for attr in _ACTIONS:  # Spark 4 DataFrames are the classic subclass
            self._wrap(DataFrame, attr, action_done, "action")
        for attr in _WRITES:
            self._wrap(DataFrameWriter, attr,
                       lambda dt: self._add("writes_s", dt), "action")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ operations
    def begin(self, spark, idx: int, op_type: str) -> None:
        self._snap = _snapshot(self._roots())
        with self._lock:
            self._cur = {
                "idx": idx,
                "type": op_type,
                "group": f"perfbench-{idx}-{op_type}",
                "t0": time.time(),
                "acc": defaultdict(float),
            }
        spark.sparkContext.setJobGroup(self._cur["group"], op_type)

    def end(self, spark, wall: float, gauges: dict, family: str | None) -> None:
        spark.sparkContext.setJobGroup(None, None)
        with self._lock:
            op, self._cur = self._cur, None
        op["t1"] = time.time()
        op["wall"] = wall
        op["gauges"] = gauges
        op["family"] = family
        op["fs"] = _fs_diff(self._snap, _snapshot(self._roots()))
        self.ops.append(op)

    # ------------------------------------------------------------- reduction
    def report(self, event_log_dir: str, failed_ratio: float) -> dict:
        engine = _parse_event_log(event_log_dir, self.ops)
        n = max(1, len(self.ops))

        def total(key):
            return sum(op["acc"].get(key, 0.0) for op in self.ops)

        def p50(op_type):
            walls = [o["wall"] for o in self.ops if o["type"] == op_type]
            return statistics.median(walls) if walls else 0.0

        out = {f"{t}_p50_s": p50(t) for t in OP_TYPES}
        out["failed_ratio"] = failed_ratio

        drains = total("streaming.drains")
        batches = total("streaming.micro_batches")
        out["streaming.drain_s"] = total("streaming.drain_s") / drains if drains else 0.0
        out["streaming.micro_batch_s"] = (
            total("streaming.micro_batch_s") / batches if batches else 0.0
        )
        out["streaming.overhead_s"] = (
            (total("streaming.drain_s") - total("streaming.micro_batch_s")) / drains
            if drains else 0.0
        )
        pb = total("pipeline.batches")
        for k in ("pipeline.batch_s", "pipeline.driver_actions",
                  "pipeline.driver_action_s"):
            out[k] = total(k) / pb if pb else 0.0

        actions = total("actions_s") + total("writes_s")
        out["operators.build_s"] = (
            total("operators.build_s") - total("actions_in_operators_s")
        ) / n
        out["operators.exec_s"] = actions / n

        reports = [o for o in self.ops if o["type"] == "report"]
        if reports:
            act = [o["acc"].get("actions_s", 0.0) + o["acc"].get("writes_s", 0.0)
                   for o in reports]
            out["plans.report_collect_s"] = sum(act) / len(reports)
            out["plans.report_build_s"] = (
                sum(o["wall"] for o in reports) - sum(act)
            ) / len(reports)
        else:
            out["plans.report_collect_s"] = out["plans.report_build_s"] = 0.0

        for k in ("catalog.read_s", "catalog.commit_s", "catalog.stage_delta_s",
                  "catalog.append_s"):
            out[k] = total(k) / n
        out["catalog.files_written"] = sum(o["fs"]["files"] for o in self.ops) / n
        out["catalog.bytes_written"] = sum(o["fs"]["bytes"] for o in self.ops) / n
        attempted = sum(o["fs"]["parts_created"] for o in self.ops)
        useful = sum(o["fs"]["parts_written"] for o in self.ops)
        out["catalog.partitions_written_per_touched"] = (
            useful / attempted if attempted else 0.0
        )
        for gauge, key in (("versions", "catalog.versions_live"),
                           ("trash", "catalog.trash_pending"),
                           ("rdds", "pins.live_rdds_after_op")):
            out[key] = sum(o["gauges"][gauge] for o in self.ops) / n

        for fam in ("dedup", "ann", "ivfpq", "text"):
            out[f"extensions.{fam}_s"] = sum(
                o["wall"] for o in self.ops if o.get("family") == fam
            ) / n

        for k in ("jobs", "stages", "tasks", "executor_run_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes"):
            out[f"spark.{k}"] = sum(e[k] for e in engine.values()) / n
        for t in OP_TYPES:
            ids = [o["idx"] for o in self.ops if o["type"] == t]
            for k in ("jobs", "tasks"):
                out[f"spark.{k}.{t}"] = (
                    sum(engine[i][k] for i in ids) / len(ids) if ids else 0.0
                )
        return out


# ----------------------------------------------------------------- helpers
def _snapshot(roots) -> dict:
    files: dict[str, tuple[int, int]] = {}
    dirs: set[str] = set()
    for root in roots:
        for dirpath, dnames, fnames in os.walk(root):
            dnames[:] = [d for d in dnames if not d.startswith("_trash-")]
            dirs.add(dirpath)
            for f in fnames:
                st = os.lstat(os.path.join(dirpath, f))
                files[os.path.join(dirpath, f)] = (st.st_ino, st.st_size)
    return {"files": files, "dirs": dirs}


def _fs_diff(pre: dict, post: dict) -> dict:
    """Files whose inode is new (a hardlinked reuse is not a write), and
    data directories created: partition dirs (``col=value``) and version
    dirs (``v=N``) that hold data files directly."""
    old_inodes = {ino for ino, _ in pre["files"].values()}
    written = {
        p: size for p, (ino, size) in post["files"].items()
        if ino not in old_inodes and not os.path.basename(p).startswith(("_", "."))
    }
    data_dirs = {
        os.path.dirname(p) for p in post["files"]
        if not os.path.basename(p).startswith(("_", "."))
    }
    created = [
        d for d in post["dirs"] - pre["dirs"]
        if d in data_dirs and "=" in os.path.basename(d)
    ]
    written_dirs = {os.path.dirname(p) for p in written}
    return {
        "files": len(written),
        "bytes": sum(written.values()),
        "parts_created": len(created),
        "parts_written": sum(1 for d in created if d in written_dirs),
    }


def _parse_event_log(event_log_dir: str, ops: list[dict]) -> dict:
    """Engine counters per operation index from Spark's event log: jobs by
    job group (or, for jobs a streaming thread launched under its own
    group, by submission time inside the operation's window), and task
    metrics through each stage's first owning job."""
    zero = {k: 0.0 for k in ("jobs", "stages", "tasks", "executor_run_s",
                             "gc_s", "shuffle_read_bytes",
                             "shuffle_write_bytes", "spill_bytes",
                             "input_bytes")}
    out = {op["idx"]: dict(zero) for op in ops}
    by_group = {op["group"]: op["idx"] for op in ops}
    windows = [(op["t0"] * 1000, op["t1"] * 1000, op["idx"]) for op in ops]
    stage_op: dict[int, int] = {}
    stages_seen: dict[int, set] = defaultdict(set)
    # Spark 4 writes one directory per application, one file per roll
    paths = sorted(glob.glob(os.path.join(event_log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    idx = by_group.get(group)
                    if idx is None:
                        t = ev.get("Submission Time", 0)
                        idx = next((i for a, b, i in windows if a <= t <= b), None)
                    if idx is None:
                        continue
                    out[idx]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, idx)
                elif kind == "SparkListenerTaskEnd":
                    idx = stage_op.get(ev.get("Stage ID"))
                    if idx is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    o = out[idx]
                    o["tasks"] += 1
                    stages_seen[idx].add(ev.get("Stage ID"))
                    o["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    o["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    o["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                    o["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for idx, sids in stages_seen.items():
        out[idx]["stages"] = len(sids)
    return out
