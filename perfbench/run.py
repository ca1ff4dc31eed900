"""Repository benchmark: one closed-loop, single-client workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload daily_ingest --seed 1 --seconds 5 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics (see ``metrics.py``). The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``; the
line before it records the host, versions, input sizes and every
operation's times.
The run exits non-zero if any operation raised or returned a wrong
result.

Protocol: set-up (session start, warm-up, input layout, seeding) is timed
as ``setup_s``; then whole workload cycles run until ``--seconds`` have
passed (at least one). Each operation is timed from the call into the
package to its result being visible, with the hypervisor's steal taken
out (``harness.Stopwatch``); the harness's checks and hygiene run outside
the timed region. A traced run (event log on, spans installed from the
start) reports the per-layer metrics and ``traced.<m>``, its own value of
each end-to-end metric.

Everything the run writes goes under ``.perfbench-work/`` at the
repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import harness
from metrics import END_TO_END, OP_TYPES, PER_LAYER, STAGES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_BASE = os.path.join(ROOT, ".perfbench-work")


class OpFailed(Exception):
    """An operation raised; the run stops measuring and reports it."""


class Recorder:
    """Times operations, counts failures, samples hygiene gauges."""

    def __init__(self, workload, spark, corrupt: bool):
        self.wl = workload
        self.spark = spark
        self.corrupt = corrupt
        self.tracer = None
        self.ops: list[dict] = []
        self.failed: set[int] = set()
        self.last = -1
        self.jvm = harness.jvm_pid(spark)

    def op(self, op_type: str, fn, family: str | None = None,
           step: str | None = None):
        """Time ``fn`` as one operation of ``op_type``. Operations with the
        same ``step`` (default: the type) are calls of one workload step."""
        idx = len(self.ops)
        if self.tracer:
            self.tracer.begin(self.spark, idx, op_type)
        cpu0 = harness.cpu_s(self.jvm)
        watch = harness.Stopwatch()
        try:
            result = fn()
            error = None
        except Exception as exc:  # noqa: BLE001 — recorded, then re-raised
            result, error = None, exc
        raw, wall = watch.read()
        cpu = harness.cpu_s(self.jvm) - cpu0
        gauges = {"rdds": harness.live_rdds(self.spark)}
        gauges["versions"], gauges["trash"] = harness.catalog_gauges(
            self.wl.catalog_roots()
        )
        if self.tracer:
            self.tracer.end(self.spark, wall, gauges, family)
        self.ops.append({"type": op_type, "stage": OP_TYPES[op_type],
                         "step": step or op_type,
                         "wall": wall, "raw": raw, "cpu": cpu})
        self.last = idx
        if error is not None:
            self.failed.add(idx)
            traceback.print_exception(error, file=sys.stderr)
            raise OpFailed(f"{op_type} #{idx}: {error!r}") from error
        harness.between_ops(self.spark, idx + 1, self.wl.release_pins,
                            self.wl.gc_every)
        return result

    def verify(self, ok: bool, what: str, idx: int | None = None) -> None:
        """Count operation ``idx`` (default: the last one) as failed unless
        its output checked ``ok``."""
        idx = self.last if idx is None else idx
        if not ok:
            print(f"CHECK FAILED (op {idx}): {what}", file=sys.stderr,
                  flush=True)
            self.failed.add(idx)

    def tamper(self, rows: list) -> list:
        """Self-test hook: corrupt the first checked output once."""
        if self.corrupt and rows:
            self.corrupt = False
            return rows[:-1]
        return rows


def _window(rec: Recorder, seconds: float):
    """Run whole cycles until ``seconds`` pass (at least one). Returns the
    window's end-to-end metrics and the failure that ended it, if any."""
    from daily_top_songs_etl_spark.catalog import flush_trash

    cycles = []  # (un-stolen seconds, JVM CPU seconds) per cycle
    error = None
    t0 = time.perf_counter()
    try:
        while True:
            before = len(rec.ops)
            rec.wl.cycle(rec)
            ops = rec.ops[before:]
            cycles.append((sum(o["wall"] for o in ops), sum(o["cpu"] for o in ops)))
            if time.perf_counter() - t0 >= seconds:
                break
    except OpFailed as exc:
        error = exc
    flush_trash()

    def stage(name):
        """Geometric mean over the stage's steps of each step's fastest
        call."""
        ops = ([o for o in rec.ops if o["stage"] == name]
               or [o for o in rec.ops if STAGES[o["stage"]] == STAGES[name]])
        steps: dict[str, list[float]] = {}
        for o in ops:
            steps.setdefault(o["step"], []).append(o["wall"])
        return (statistics.geometric_mean(min(w) for w in steps.values())
                if steps else 0.0)

    return {
        **{name: stage(name) for name in STAGES},
        "cycle_s": statistics.median(c[0] for c in cycles) if cycles else 0.0,
        "jvm.cycle_cpu_s": (statistics.median(c[1] for c in cycles)
                            if cycles else 0.0),
        "catalog_mb": harness.disk_bytes(rec.wl.catalog_roots()) / 2**20,
        "retained_heap_mb": harness.retained_heap_mb(rec.spark),
        "jvm.peak_rss_mb": harness.peak_rss_mb(harness.jvm_pid(rec.spark)),
    }, error


def _workload(name: str, work_dir: str, seed: int, tiny: bool):
    if name == "daily_ingest":
        from daily_ingest import DailyIngest

        return DailyIngest(work_dir, seed)
    from corpus_index import CorpusIndex

    return CorpusIndex(work_dir, seed, tiny)


def run(args) -> int:
    os.makedirs(WORK_BASE, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_BASE)
    sys.path.insert(0, ROOT)
    harness.pin_host_env(work_dir)

    tiny = os.environ.get("PERFBENCH_TINY") == "1"
    corrupt = os.environ.get("PERFBENCH_CORRUPT") == "1"
    event_dir = os.path.join(work_dir, "eventlog") if args.trace else None
    spark = None
    try:
        wl = _workload(args.workload, work_dir, args.seed, tiny)
        watch = harness.Stopwatch()
        spark = harness.start_session("perfbench", event_dir)
        harness.warm_up(spark)
        rec = Recorder(wl, spark, corrupt)
        wl.setup(spark)
        setup_raw, setup_s = watch.read()

        if args.trace:
            from tracing import Tracer

            rec.tracer = Tracer(wl.catalog_roots)
            rec.tracer.install()
        try:
            e2e, error = _window(rec, args.seconds)
            e2e["setup_s"] = setup_s
            if error is None:
                wl.finish(rec)
        finally:
            if rec.tracer:
                rec.tracer.uninstall()
        if error is not None:
            print(f"operation failed: {error}", file=sys.stderr, flush=True)

        attempted = max(1, len(rec.ops))
        failed = len(rec.failed)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": harness.host_info(),
            "inputs": wl.inputs(),
            "setup_wall_s": setup_raw,
            # per operation: step, un-stolen s, wall s, driver JVM CPU s
            "ops": [[o["step"], round(o["wall"], 3), round(o["raw"], 3),
                     round(o["cpu"], 2)] for o in rec.ops],
        }
        harness.stop_session(spark)  # also completes the event log
        spark = None

        if args.trace:
            metrics = rec.tracer.report(event_dir, failed / attempted)
            for key in ("jvm.peak_rss_mb", "jvm.cycle_cpu_s"):
                metrics[key] = e2e[key]
            metrics.update({f"traced.{m.name}": e2e[m.name] for m in END_TO_END})
            units = {m.name: m.unit for m in PER_LAYER}
        else:
            metrics = {m.name: e2e[m.name] for m in END_TO_END}
            units = {m.name: m.unit for m in END_TO_END}
        ok = error is None and failed == 0
        print(json.dumps({"perfbench": info}), flush=True)
        print(json.dumps({
            "correct": ok,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }), flush=True)
        return 0 if ok else 1
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["daily_ingest", "corpus_index"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "daily_top_songs_etl_spark",
                                       "__init__.py")):
        print("perfbench: the package is not next to perfbench/", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
