"""The benchmark's metric registry: every metric it prints, with its unit,
direction, layer, and the end-to-end metric (and workload) it should move.

``BENCHMARK.json`` at the repository root carries the same names, units
and directions; ``selftest.py`` fails if the two drift apart.

Value conventions for the per-layer metrics (traced run only):

- ``*_p50_s`` latencies are medians over the operations of that type in
  the traced window (0 when the workload has no such operation).
- Layer times, counts and bytes are totals over the traced window divided
  by the number of timed operations in it ("per operation"), except
  ``streaming.*`` (per drain / per micro-batch), ``pipeline.*`` (per
  ``run_daily_batch`` call) and ``plans.*`` (per report).
- ``spark.jobs.<type>`` / ``spark.tasks.<type>`` are per operation of
  that type.
- Gauges (``pins.live_rdds_after_op``, ``catalog.versions_live``,
  ``catalog.trash_pending``) are means of the value sampled right after
  each operation, before the harness's own hygiene runs.
- ``catalog.partitions_written_per_touched`` is the window's useful /
  attempted ratio: partition directories holding a newly written file,
  over partition directories created.
- ``traced.<m>`` is end-to-end metric ``m`` as measured in the traced
  run; ``traced.<m>`` minus ``<m>`` from an untraced run of the same
  workload and seed is the tracing overhead on ``m``.
"""

from __future__ import annotations

from dataclasses import dataclass

WORKLOADS = {
    "daily_ingest": (
        "the paper's daily ETL: land a 20-row chart, drain it through the "
        "4-table upsert/retention commit, render the leaderboard"
    ),
    "corpus_index": (
        "the LLM-data index lifecycle on a seeded sf0.1-shaped corpus: dedup, "
        "ANN, IVF-PQ and text index build/append/query, vector and sketch "
        "streams"
    ),
}

#: End-to-end stage metrics, each with its class. A stage metric is the
#: geometric mean over the stage's steps of each step's fastest call in
#: the run (``corpus_index`` calls its cheap steps twice). No stage holds
#: more than two corpus_index steps, so doubling any one step moves its
#: stage by at least 2^(1/2) - 1 = 41%, well past the stage's 0.25 bound.
#: daily_ingest's day has one write (the day's stream batch) and one read
#: (the leaderboard query). A stage with no operation in a workload
#: reports the workload's operations of the stage's class instead, so on
#: daily_ingest every other write stage equals ``stream_batch_s`` and
#: every other read stage equals ``query_s``: every workload prints every
#: metric.
STAGES = {
    "stream_batch_s": "write",
    "vector_build_s": "write",
    "doc_build_s": "write",
    "sketch_build_s": "write",
    "index_append_s": "write",
    "query_s": "read",
    "doc_query_s": "read",
    "dedup_pairs_s": "read",
}

#: Operation types, with the stage each one is timed under.
OP_TYPES = {
    "ingest_day": "stream_batch_s",    # land + drain one day's chart
    "report": "query_s",               # that day's leaderboard
    "stream_batch": "stream_batch_s",  # vector / sketch stream micro-batch
    "vector_build": "vector_build_s",  # ANN / IVF-PQ index build
    "doc_build": "doc_build_s",        # text index / dedup signature index
    "sketch_build": "sketch_build_s",  # CMS+KMV sketch state
    "index_append": "index_append_s",  # IVF-PQ / text append, redelivered
    "vector_query": "query_s",         # ANN / IVF-PQ top-k query
    "doc_query": "doc_query_s",        # text query / dedup index match
    "dedup_pairs": "dedup_pairs_s",    # simhash / jaccard-LSH pairs
}


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    layer: str = "end_to_end"
    moves: str = ""
    bound: float | None = None


END_TO_END = [
    Metric("setup_s", "s", "lower", bound=0.25,
           moves="session start, warm-up, input layout and seeding "
                 "before the first timed operation"),
    Metric("stream_batch_s", "s", "lower", bound=0.25,
           moves="daily_ingest: file landing -> 4-table commit visible; "
                 "corpus_index: vector and sketch stream micro-batches"),
    Metric("vector_build_s", "s", "lower", bound=0.25,
           moves="corpus_index: ANN and IVF-PQ index builds"),
    Metric("doc_build_s", "s", "lower", bound=0.25,
           moves="corpus_index: text index and dedup signature index "
                 "builds"),
    Metric("sketch_build_s", "s", "lower", bound=0.25,
           moves="corpus_index: CMS/KMV sketch state build"),
    Metric("index_append_s", "s", "lower", bound=0.25,
           moves="corpus_index: IVF-PQ and text appends, each redelivered"),
    Metric("query_s", "s", "lower", bound=0.25,
           moves="daily_ingest: leaderboard render after each commit; "
                 "corpus_index: ANN and IVF-PQ top-k queries"),
    Metric("doc_query_s", "s", "lower", bound=0.25,
           moves="corpus_index: text index query and dedup index match"),
    Metric("dedup_pairs_s", "s", "lower", bound=0.25,
           moves="corpus_index: simhash and jaccard-LSH near-duplicate pairs"),
    Metric("cycle_s", "s", "lower", bound=0.25,
           moves="daily_ingest: one cron day (ingest + report); "
                 "corpus_index: one full index lifecycle"),
    Metric("catalog_mb", "MiB", "lower", bound=0.1,
           moves="bytes on disk under the catalog roots at the end of the "
                 "run (live and retained versions, undrained trash)"),
    Metric("retained_heap_mb", "MiB", "lower", bound=0.1,
           moves="driver JVM heap still live after a full GC at the end of "
                 "the run: what a long-lived session keeps"),
]


def _lm(name, unit, layer, moves, better="lower"):
    return Metric(name, unit, better, layer=layer, moves=moves)


_ING = "daily_ingest stream_batch_s"
_REP = "daily_ingest query_s"
_STR = "corpus_index stream_batch_s"
_BLD = "corpus_index vector_build_s, doc_build_s and sketch_build_s"
_APP = "corpus_index index_append_s"
_QRY = "corpus_index query_s and doc_query_s"
_DED = "corpus_index dedup_pairs_s and doc_query_s"
_IDX = f"{_BLD}; {_APP}; {_STR}"

PER_LAYER = [
    # per operation type latencies (traced window)
    *[_lm(f"{_t}_p50_s", "s", "op",
          ("daily_ingest " if _t in ("ingest_day", "report")
           else "corpus_index ") + _stage)
      for _t, _stage in OP_TYPES.items()],
    _lm("failed_ratio", "ratio", "op", "every workload: must stay 0"),
    # streaming
    _lm("streaming.drain_s", "s", "streaming", f"{_ING}; {_STR}"),
    _lm("streaming.overhead_s", "s", "streaming", f"{_ING}; {_STR}"),
    _lm("streaming.micro_batch_s", "s", "streaming", f"{_ING}; {_STR}"),
    # pipeline
    _lm("pipeline.batch_s", "s", "pipeline", _ING),
    _lm("pipeline.driver_actions", "count", "pipeline", _ING),
    _lm("pipeline.driver_action_s", "s", "pipeline", _ING),
    # operators
    _lm("operators.build_s", "s", "operators", _ING),
    _lm("operators.exec_s", "s", "operators", f"{_ING}; {_REP}"),
    # plans
    _lm("plans.report_build_s", "s", "plans", _REP),
    _lm("plans.report_collect_s", "s", "plans", _REP),
    # catalog
    _lm("catalog.read_s", "s", "catalog", f"{_REP}; {_QRY}"),
    _lm("catalog.commit_s", "s", "catalog", f"{_ING}; {_IDX}"),
    _lm("catalog.stage_delta_s", "s", "catalog", _ING),
    _lm("catalog.append_s", "s", "catalog", _APP),
    _lm("catalog.files_written", "count", "catalog",
        f"catalog_mb; {_ING}; {_IDX}"),
    _lm("catalog.bytes_written", "bytes", "catalog",
        f"catalog_mb; {_ING}; {_IDX}"),
    _lm("catalog.partitions_written_per_touched", "ratio", "catalog",
        f"{_ING} and daily_ingest catalog_mb", better="higher"),
    _lm("catalog.versions_live", "count", "catalog", "catalog_mb"),
    _lm("catalog.trash_pending", "count", "catalog", "catalog_mb"),
    # pins
    _lm("pins.live_rdds_after_op", "count", "pins",
        f"retained_heap_mb; {_ING} (pin accumulation -> GC)"),
    # the driver JVM
    _lm("jvm.peak_rss_mb", "MiB", "jvm",
        "retained_heap_mb; peak RSS (VmHWM) over the whole run"),
    _lm("jvm.cycle_cpu_s", "s", "jvm",
        "cycle_s; driver JVM CPU seconds of one cycle (median over the "
        "run's cycles), JIT compiler threads excluded"),
    # extensions
    _lm("extensions.dedup_s", "s", "extensions", f"{_DED}; {_BLD}"),
    _lm("extensions.ann_s", "s", "extensions", f"{_BLD}; {_STR}; {_QRY}"),
    _lm("extensions.ivfpq_s", "s", "extensions", f"{_BLD}; {_APP}; {_QRY}"),
    _lm("extensions.text_s", "s", "extensions", f"{_BLD}; {_APP}; {_QRY}"),
    # spark engine, from the event log
    _lm("spark.jobs", "count", "spark", "every stage metric"),
    _lm("spark.stages", "count", "spark", "every stage metric"),
    _lm("spark.tasks", "count", "spark", "every stage metric"),
    _lm("spark.executor_run_s", "s", "spark", "every stage metric; jvm.cycle_cpu_s"),
    _lm("spark.gc_s", "s", "spark", "retained_heap_mb; cycle_s"),
    _lm("spark.shuffle_read_bytes", "bytes", "spark", f"{_IDX}; {_QRY}; {_DED}"),
    _lm("spark.shuffle_write_bytes", "bytes", "spark", f"{_IDX}; {_QRY}; {_DED}"),
    _lm("spark.spill_bytes", "bytes", "spark", f"{_IDX}; {_QRY}; {_DED}"),
    _lm("spark.input_bytes", "bytes", "spark", f"{_REP}; {_QRY}; {_DED}"),
]
for _t, _stage in OP_TYPES.items():
    _wl = "daily_ingest" if _t in ("ingest_day", "report") else "corpus_index"
    PER_LAYER.append(_lm(f"spark.jobs.{_t}", "count", "spark", f"{_wl} {_stage}"))
    PER_LAYER.append(_lm(f"spark.tasks.{_t}", "count", "spark", f"{_wl} {_stage}"))
for _m in END_TO_END:
    PER_LAYER.append(_lm(f"traced.{_m.name}", _m.unit, "trace",
                         f"{_m.name} under tracing; minus the untraced "
                         f"{_m.name} it is the tracing overhead"))
