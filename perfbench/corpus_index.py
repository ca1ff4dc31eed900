"""``corpus_index``: the LLM-data index lifecycle over a seeded corpus,
driven through the extensions' public functions.

One cycle, each step a timed operation on fresh catalogs:

- dedup: ``simhash_pairs``, ``ngram_jaccard_lsh``, ``build_dedup_index``
  on the 80% slice, ``match_against_dedup_index`` for the 20% batch
  (twice);
- ANN: ``build_ann_index`` on the 80% slice, the held-out 20% landed as
  :data:`STREAM_BATCHES` files, each drained as one micro-batch by
  ``run_vector_ingest_stream`` and then redelivered through
  ``append_to_ann_index`` (the applied-batch ledger must refuse it), then
  ``query_ann_index`` (twice);
- IVF-PQ: ``build_ivfpq_index`` on the 80% slice, ``append_to_ann_index``
  of the 20% batch delivered twice, then ``query_ivfpq_index`` (twice);
- text: ``build_text_index`` on the 80% slice, the 20% batch delivered
  twice to ``append_to_text_index``, then ``query_text_index`` (twice);
- sketch: ``build_sketch_state`` on one fifth of the keys (then rebuilt),
  the rest landed
  as :data:`STREAM_BATCHES` files, each drained as one micro-batch by
  ``run_sketch_stream``.

A step's first call pays JIT compilation and class loading for its code
path, and a call of a second or less absorbs the host's speed swings
whole; both vary from run to run by more than the step's own cost does.
So the cheap steps whose first call measured slowest are called twice
(each stream drains :data:`STREAM_BATCHES` micro-batches, each query runs
twice, the sketch state is built and rebuilt), every call checked, and a
step's time is its fastest call.

Outputs are compared with the matching registry face's DuckDB oracle
(count + order-insensitive digest); the two index queries, which no face
covers after an incremental build, are checked against the stored index
directly.
"""

from __future__ import annotations

import math
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from datagen import write_corpus, write_landing_file
from oracle import Oracle, digest

TABLES = ("documents", "embeddings", "lineitem")
BM25_TERMS = ["spark", "vector", "join", "stream"]
#: Rows of documents, embeddings and lineitem keys: the sf0.1 test set's
#: 2,000 embeddings, and a fifth of its 5,000 documents and 600,000
#: lineitem rows. At full sf0.1 a run takes 69-111 s on a 4-vCPU VM, too
#: long for the benchmark's time budget.
SIZES = (1000, 2000, 120000)
#: Files each stream drains, one micro-batch (one operation) each.
STREAM_BATCHES = 2


class CorpusIndex:
    name = "corpus_index"
    release_pins = True  # unrelated steps: drop what each leaves behind
    gc_every = 5

    def __init__(self, work_dir: str, seed: int, tiny: bool):
        self.root = os.path.join(work_dir, "corpus")
        self.data = os.path.join(self.root, "data")
        sizes = (100, 100, 1000) if tiny else SIZES
        self.rows = write_corpus(self.data, seed, *sizes)
        self.n_cycles = 0
        self.cycle_dir = None

    # ------------------------------------------------------------ set-up
    def setup(self, spark) -> None:
        from harness import warm_tables

        self.spark = spark
        warm_tables(spark, self.data, TABLES)

    def _t(self, name):
        import __spark_entry__ as entry

        return entry._t(self.spark, self.data, name)

    # -------------------------------------------------------------- cycle
    def cycle(self, rec) -> None:
        from daily_top_songs_etl_spark.catalog import Catalog, flush_trash

        if self.cycle_dir:
            flush_trash()
            shutil.rmtree(self.cycle_dir)
        self.n_cycles += 1
        self.cycle_dir = os.path.join(self.root, f"cycle-{self.n_cycles}")
        self.cats = {
            fam: Catalog(self.spark, os.path.join(self.cycle_dir, fam))
            for fam in ("dedup", "ann", "ivfpq", "text", "sketch")
        }
        checks = []  # (op index, face, collected columns, rows)
        self._dedup(rec, checks)
        self._ann(rec, checks)
        self._ivfpq(rec, checks)
        self._text(rec, checks)
        self._sketch(rec, checks)
        self._oracle_checks(rec, checks)

    def _dedup(self, rec, checks) -> None:
        from daily_top_songs_etl_spark.extensions import dedup

        docs = self._t("documents")
        cat = self.cats["dedup"]
        r = rec.op("dedup_pairs", lambda: _collect(dedup.simhash_pairs(docs, max_hamming=3)),
                   family="dedup", step="simhash_pairs")
        checks.append((rec.last, "dedup_simhash_pairs", *r))
        r = rec.op("dedup_pairs", lambda: _collect(dedup.ngram_jaccard_lsh(docs, min_jaccard=0.2)),
                   family="dedup", step="jaccard_lsh")
        checks.append((rec.last, "dedup_jaccard_lsh", *r))
        rec.op("doc_build", lambda: dedup.build_dedup_index(
            cat, "dd", docs.filter("doc_id % 5 != 0"), probe_partitions=16
        ), family="dedup", step="dedup_index_build")
        checks.append((rec.last, "dedup_index_build",
                       *_collect(cat.read("dd__signatures"))))
        batch = docs.filter("doc_id % 5 = 0")
        for _ in range(2):
            r = rec.op("doc_query", lambda: _collect(dedup.match_against_dedup_index(
                cat, "dd", batch)), family="dedup", step="dedup_index_match")
            checks.append((rec.last, "dedup_index_query", *r))

    def _ann(self, rec, checks) -> None:
        from pyspark.sql import functions as F

        from daily_top_songs_etl_spark.extensions import ann_index
        from daily_top_songs_etl_spark.streaming import vector_stream

        emb = self._t("embeddings")
        cat = self.cats["ann"]
        held = emb.filter(F.col("vec_id") % 5 == 0)
        rec.op("vector_build", lambda: ann_index.build_ann_index(
            cat, "ann", emb.filter(F.col("vec_id") % 5 != 0),
            n_centroids=8, iters=2), family="ann", step="ann_build")
        base_occ = _occupancy(cat, "ann")
        arrow = pq.read_table(os.path.join(self.data, "embeddings.parquet"))
        ids = arrow.column("vec_id").to_numpy()
        landing = os.path.join(self.cycle_dir, "vec-landing")
        for k in range(STREAM_BATCHES):  # micro-batch k: its own file
            write_landing_file(
                arrow.filter(pa.array((ids % 5 == 0)
                                      & ((ids // 5) % STREAM_BATCHES == k))),
                landing, f"batch-{k}.parquet")
            part = held.filter((F.col("vec_id") / 5).cast("long")
                               % STREAM_BATCHES == k)

            def drain_and_redeliver(k=k, part=part):
                vector_stream.run_vector_ingest_stream(
                    self.spark, landing, emb.schema, cat, "ann",
                    os.path.join(self.cycle_dir, "vec-ckpt"))
                # at-least-once redelivery of micro-batch k: the ledger
                # refuses it
                ann_index.append_to_ann_index(cat, "ann", part, batch_id=k)

            rec.op("stream_batch", drain_and_redeliver, family="ann",
                   step="vector_stream")
        lists = cat.read("ann__lists")
        out = lists.filter(F.col("vec_id") % 5 == 0).select("vec_id", "cluster")
        checks.append((rec.last, "ann_index_append", *_collect(out)))
        appended = {r["cluster"]: r["n"] for r in
                    out.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()}
        final_occ = _occupancy(cat, "ann")
        rec.verify(all(
            n == base_occ.get(c, 0) + appended.get(c, 0)
            for c, n in final_occ.items()
        ), "ann occupancy != build occupancy + appended (replay double-count)")
        queries = emb.filter(F.col("vec_id") < 8)
        first = None
        for _ in range(2):
            cols, rows = rec.op("vector_query", lambda: _collect(ann_index.query_ann_index(
                cat, "ann", queries, k=5, n_probe=2)), family="ann", step="ann_query")
            if first is None:
                first = sorted(rows)
                rec.verify(_ann_query_ok(cat, queries, rec.tamper(rows)),
                           "ann query != exact re-rank over the probed stored lists")
            else:
                rec.verify(sorted(rows) == first, "ann query repeat != first run")

    def _ivfpq(self, rec, checks) -> None:
        from pyspark.sql import functions as F

        from daily_top_songs_etl_spark.extensions import ann_index

        emb = self._t("embeddings")
        cat = self.cats["ivfpq"]
        rec.op("vector_build", lambda: ann_index.build_ivfpq_index(
            cat, "ipq", emb.filter(F.col("vec_id") % 5 != 0),
            n_centroids=8, iters=2, m=4, k_codes=8), family="ivfpq",
            step="ivfpq_build")
        batch = emb.filter(F.col("vec_id") % 5 == 0)
        rec.op("index_append", lambda: _deliver_twice(
            ann_index.append_to_ann_index, cat, "ipq", batch), family="ivfpq",
            step="ivfpq_append")
        checks.append((rec.last, "ivfpq_append", *_collect(
            cat.read("ipq__pqlists").filter(F.col("vec_id") % 5 == 0).select(
                "vec_id", "cluster", "code_0", "code_1", "code_2", "code_3"))))
        stored = {r["vec_id"] for r in cat.read("ipq__pqlists").select("vec_id").collect()}
        queries = emb.filter(F.col("vec_id") < 8)
        for _ in range(2):
            cols, rows = rec.op("vector_query", lambda: _collect(ann_index.query_ivfpq_index(
                cat, "ipq", queries, k=5, n_probe=2, m=4)),
                family="ivfpq", step="ivfpq_query")
            rec.verify(_topk_ok(cols, rows, stored, "adc_dist", ascending=True),
                       "ivfpq query: not k ordered stored neighbours per query")

    def _text(self, rec, checks) -> None:
        from pyspark.sql import functions as F

        from daily_top_songs_etl_spark.extensions import text

        docs = self._t("documents")
        cat = self.cats["text"]
        rec.op("doc_build", lambda: text.build_text_index(
            cat, "tx", docs.filter(F.col("doc_id") % 5 != 0), probe_partitions=16),
            family="text", step="text_build")
        held = docs.filter(F.col("doc_id") % 5 == 0)
        rec.op("index_append", lambda: _deliver_twice(
            text.append_to_text_index, cat, "tx", held), family="text",
            step="text_append")
        for _ in range(2):
            r = rec.op("doc_query", lambda: _collect(text.query_text_index(
                cat, "tx", BM25_TERMS, k=10)), family="text", step="text_query")
            checks.append((rec.last, "text_index_append", *r))

    def _sketch(self, rec, checks) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from daily_top_songs_etl_spark.streaming import sketch_stream

        li = self._t("lineitem")
        cat = self.cats["sketch"]
        seed_keys = li.filter(F.col("l_orderkey") % 5 == 1).select("l_partkey")
        for _ in range(2):  # the second call rebuilds the state
            rec.op("sketch_build", lambda: sketch_stream.build_sketch_state(
                cat, "st", seed_keys, "l_partkey", width=8192, depth=4,
                kmv_k=256), step="sketch_build")
        arrow = pq.read_table(os.path.join(self.data, "lineitem.parquet"))
        keys = arrow.column("l_orderkey").to_numpy()
        landing = os.path.join(self.cycle_dir, "sketch-landing")
        schema = T.StructType([T.StructField("l_partkey", T.LongType())])
        for k in range(STREAM_BATCHES):  # micro-batch k: its own file
            write_landing_file(
                arrow.filter(pa.array((keys % 5 != 1)
                                      & ((keys // 5) % STREAM_BATCHES == k)))
                .select(["l_partkey"]),
                landing, f"batch-{k}.parquet")
            rec.op("stream_batch", lambda: sketch_stream.run_sketch_stream(
                self.spark, landing, schema, cat, "st",
                os.path.join(self.cycle_dir, "sketch-ckpt")),
                step="sketch_stream")
        checks.append((rec.last, "sketch_stream_state",
                       *_collect(_sketch_state(cat, li))))

    def _oracle_checks(self, rec, checks) -> None:
        import __spark_entry__ as entry

        sqls = entry.oracle_sql()
        oracle = Oracle(self.data, TABLES)
        wants: dict[str, tuple[int, str]] = {}  # repeated queries: one face
        try:
            for idx, face, cols, rows in checks:
                got = digest(cols, rec.tamper(rows))
                if face not in wants:
                    wants[face] = oracle.expect(sqls[face])
                want = wants[face]
                rec.verify(got == want,
                           f"{face}: spark {got[0]} rows, duckdb {want[0]} "
                           f"(digest match {got[1] == want[1]})", idx)
                if want[0] == 0:
                    rec.verify(False, f"{face}: vacuous empty result", idx)
        finally:
            oracle.close()

    # ------------------------------------------------------------- checks
    def finish(self, rec) -> None:
        pass  # every output is checked inside its cycle

    def catalog_roots(self) -> list[str]:
        if not self.cycle_dir:
            return []
        return [os.path.join(self.cycle_dir, f)
                for f in ("dedup", "ann", "ivfpq", "text", "sketch")]

    def inputs(self) -> dict:
        return {**{f"{k}_rows": v for k, v in self.rows.items()},
                "cycles": self.n_cycles}


# ------------------------------------------------------------------ helpers
def _deliver_twice(append, cat, name, batch) -> None:
    """An append under at-least-once delivery: the batch, then its
    redelivery under the same batch id, which must fold in once."""
    append(cat, name, batch, batch_id=1)
    append(cat, name, batch, batch_id=1)


def _collect(df):
    """Execute a result and hand back (columns, rows) for the checks."""
    return df.columns, [tuple(r) for r in df.collect()]


def _occupancy(cat, name) -> dict:
    return {r["cluster"]: r["n_vectors"]
            for r in cat.read(f"{name}__centroids").collect()}


def _topk_ok(cols, rows, stored_ids, score_col, ascending) -> bool:
    """Each query gets k=5 distinct stored non-self neighbours, ranks
    1..5, scores ordered by rank."""
    c = {n: i for i, n in enumerate(cols)}
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r[c["query_id"]], []).append(r)
    if sorted(by_q) != list(range(8)):
        return False
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r[c["rank"]])
        if [r[c["rank"]] for r in rs] != [1, 2, 3, 4, 5]:
            return False
        nbrs = [r[c["neighbor_id"]] for r in rs]
        if len(set(nbrs)) != 5 or q in nbrs or not set(nbrs) <= stored_ids:
            return False
        scores = [r[c[score_col]] for r in rs]
        if scores != sorted(scores, reverse=not ascending):
            return False
    return True


def _ann_query_ok(cat, queries, rows) -> bool:
    """Recompute the probe + exact re-rank in Python over the STORED
    centroids and pre-quantized lists (integer dot products, the engine's
    quantization), and require every returned neighbour's cosine to match
    and the returned set to be a true top-5 of the probed lists."""
    from daily_top_songs_etl_spark.extensions.similarity import QUANT_SCALE

    def quant(v):
        return [int(math.floor(float(x) * QUANT_SCALE + 0.5)) if x >= 0
                else -int(math.floor(-float(x) * QUANT_SCALE + 0.5)) for x in v]

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    cents = [(r["cluster"], quant(r["centroid"]))
             for r in cat.read("ann__centroids").collect()]
    lists = [(r["vec_id"], r["cluster"], list(r["v"]))
             for r in cat.read("ann__lists").select("vec_id", "cluster", "v").collect()]
    got: dict[int, dict[int, float]] = {}
    for qid, rank, nbr, cos in rows:
        got.setdefault(qid, {})[nbr] = cos
    for q in queries.collect():
        qv = quant(q["embedding"])
        nq = math.sqrt(dot(qv, qv))
        scored_c = sorted(
            ((-round(dot(qv, cv) / (nq * math.sqrt(dot(cv, cv))), 6), cid)
             for cid, cv in cents)
        )
        probed = {cid for _, cid in scored_c[:2]}
        cand = {
            vid: dot(qv, v) / (nq * math.sqrt(dot(v, v)))
            for vid, cl, v in lists if cl in probed and vid != q["vec_id"]
        }
        mine = got.get(q["vec_id"], {})
        if len(mine) != min(5, len(cand)):
            return False
        if any(n not in cand or abs(cand[n] - c) > 1e-6 for n, c in mine.items()):
            return False
        kth = sorted(cand.values(), reverse=True)[len(mine) - 1]
        if min(mine.values()) < round(kth, 6) - 1e-6:
            return False
    return True


def _sketch_state(cat, li):
    """The ``sketch_stream_state`` face's read-back of the stored state:
    KMV distinct estimate plus the CMS point estimate of the heaviest
    part, beside the exact values."""
    from pyspark.sql import functions as F

    from daily_top_songs_etl_spark.operators.heavyhitters import cms_estimate

    kmv_row = cat.read("st__kmv").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sketch"),
        F.max("hv").alias("__hk"),
    ).select(
        "n_sketch",
        F.when(F.col("n_sketch") < 256, F.col("n_sketch"))
        .otherwise(F.expr("(255 * 2147483647L) div __hk"))
        .cast("bigint").alias("kmv_estimate"),
    )
    exact_d = li.agg(
        F.countDistinct("l_partkey").cast("bigint").alias("exact_distinct")
    )
    top1 = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("top_exact"))
        .orderBy(F.desc("top_exact"), F.asc("l_partkey"))
        .limit(1)
        .select(F.col("l_partkey").alias("top_partkey"), "top_exact")
    )
    est1 = cms_estimate(
        cat.read("st__cms"),
        top1.select(F.col("top_partkey").alias("l_partkey")),
        "l_partkey", width=8192, depth=4,
    ).select(F.col("l_partkey").alias("top_partkey"),
             F.col("cms_estimate").alias("top_estimate"))
    return (
        exact_d.crossJoin(F.broadcast(kmv_row))
        .crossJoin(F.broadcast(top1))
        .join(F.broadcast(est1), "top_partkey")
        .select("n_sketch", "kmv_estimate", "exact_distinct",
                "top_partkey", "top_exact", "top_estimate")
    )
