"""The benchmark's workloads. Each is one client in a closed loop running a
fixed round of operations; a round starts from the same state every
time, so every round does identical work.

A workload object has
- ``generate()``: write the inputs made from the seed (no Spark, so it
  runs while the session starts);
- ``build()``: build what the round reads and run every operation type
  once, untimed, as warm-up (independent set-up steps run side by side);
- ``round()``: one round of timed operations (``Recorder.op``), with a
  span around each public layer call;
- ``check()``: the independent checks, run after the measured loop;
- ``layer_metrics(view)``: the workload's per-layer figures from a
  traced run.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from statistics import median

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from aggregation_duckdb_spark import fsio
from aggregation_duckdb_spark.hierarchy import Hierarchy
from aggregation_duckdb_spark.operators import (aggregate_with_closure,
                                                aggregate_with_rollup,
                                                standard_measures)
from aggregation_duckdb_spark.operators import dedup, similarity, text
from aggregation_duckdb_spark.runtime import materialize
from aggregation_duckdb_spark.sources import layout

import gen
import oracle


def concurrently(*fns) -> list:
    """Run set-up steps on one thread each and return their results,
    re-raising the first failure."""
    with ThreadPoolExecutor(len(fns)) as pool:
        futures = [pool.submit(f) for f in fns]
        return [f.result() for f in futures]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, files in os.walk(path) for f in files)


class Workload:
    #: op kinds whose median latencies add up to ``read_s`` / ``write_s``
    READS: tuple = ()
    WRITES: tuple = ()

    def __init__(self, work: str, rng: np.random.Generator, rec):
        self.spark = None            # set once the session is up
        self.work = work
        self.rng = rng
        self.rec = rec
        self.rounds = 0
        self.results: dict = {}      # key -> rows of the first execution
        self.digests: dict = {}
        self.errors: list = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def call(self, span: str, role: str, fn, /, *a, **kw):
        """Run one public layer call inside a span. ``role`` is ``plan``
        (returns a lazy DataFrame), ``exec`` (an action) or ``verb``
        (an eager call that does its own Spark work)."""
        with self.rec.span(span, role=role):
            return fn(*a, **kw)

    def keep(self, key, rows: list) -> None:
        """Keep the first answer to ``key`` for the checks; later answers
        must match it exactly."""
        d = oracle.digest(tuple(r.values()) if isinstance(r, dict) else r for r in rows)
        if key not in self.digests:
            self.digests[key] = d
            self.results[key] = rows
        elif self.digests[key] != d:
            self.errors.append(f"{key}: result differs from the first execution's")


# -- hier_report -------------------------------------------------------------

class HierReport(Workload):
    """Closure and ROLLUP reports over a ragged product hierarchy; each
    round refreshes the dimension to adjacency version A (a subtree
    reparented back) and reports, then to version B and reports."""

    READS = ("report_closure", "report_rollup")
    WRITES = ("dim_refresh",)
    LEVELS = (1, 8, 48, 240, 960, 2880)   # nodes per level, 4137 in all
    PARENT_SHARE = 0.7
    FACTS = 100_000
    CUSTOMERS = 40_000

    def generate(self):
        a = gen.hierarchy(self.rng, self.LEVELS, self.PARENT_SHARE)
        b = gen.reparented(a, self.rng)
        self.versions = {"A": a, "B": b}
        for v, h in self.versions.items():
            gen.write_parquet(h.table(), self.path(f"adj{v}"), 1)
        gen.write_parquet(gen.facts(self.rng, a.leaves(), self.FACTS, self.CUSTOMERS),
                          self.path("facts"), 4)

    def build(self):
        self.facts = self.spark.read.parquet(self.path("facts"))
        self.adj = {v: self.spark.read.parquet(self.path(f"adj{v}")) for v in self.versions}
        self.dims: dict = {}
        self.closure_rows: dict = {}
        concurrently(*[lambda v=v: self.refresh(v) for v in self.versions])
        concurrently(*[lambda k=k: self.report(k, "B") for k in self.READS])

    def refresh(self, v: str):
        with self.rec.op("dim_refresh"):
            h = self.call("hierarchy.Hierarchy.from_adjacency", "verb",
                          Hierarchy.from_adjacency, self.adj[v], natural_key="nk",
                          name="name", level_name="level_name",
                          parent_natural_key="parent_nk")
            clo = self.call("hierarchy.closure", "verb",
                            lambda: materialize(h.closure()))
            dim = self.call("hierarchy.reporting_dim", "verb",
                            lambda: materialize(h.reporting_dim()))
        self.dims[v] = (h, clo, dim)
        if v not in self.closure_rows:
            self.closure_rows[v] = clo.count()

    def report(self, kind: str, v: str):
        h, clo, dim = self.dims[v]
        measures = standard_measures("sales_cents", "units", "customer_id")
        with self.rec.op(kind):
            if kind == "report_closure":
                df = self.call("aggregate.aggregate_with_closure", "plan",
                               aggregate_with_closure, self.facts, clo,
                               "product_nk", measures, dim)
            else:
                df = self.call("aggregate.aggregate_with_rollup", "plan",
                               aggregate_with_rollup, self.facts, dim,
                               "product_nk", measures, h.depth)
            rows = self.call("collect", "exec", df.collect)
        self.keep((kind, v), [r.asDict() for r in rows])

    def round(self):
        for v in self.versions:
            self.refresh(v)
            for kind in self.READS:
                self.report(kind, v)
        self.rounds += 1

    def check(self, con) -> list:
        errs = list(self.errors)
        own = oracle.own_facts(con, self.path("facts"))
        for v, h in self.versions.items():
            expected = oracle.closure_report(con, self.path(f"adj{v}"), self.path("facts"))
            parent = dict(zip(h.nk, h.parent))
            closure = self.results[("report_closure", v)]
            rollup = self.results[("report_rollup", v)]
            for name, rows in (("closure", closure), ("ROLLUP", rollup)):
                errs += [f"{v} {name}: {e}" for e in
                         oracle.check_report(rows, expected, parent, own, self.FACTS)]
            errs += [f"{v}: {e}" for e in oracle.check_same_report(closure, rollup)]
            errs += [f"{v}: {e}" for e in
                     oracle.check_closure_rows(self.closure_rows[v], h.depth)]
        return errs

    def layer_metrics(self, view) -> dict:
        return {
            "hierarchy.refresh_jobs": view.op_median(self.WRITES, "jobs"),
            "hierarchy.closure_rows": self.closure_rows["A"],
            "aggregate.jobs": view.op_median(self.READS, "jobs"),
            "aggregate.shuffle_write_bytes": view.op_median(self.READS, "shuffle_write_bytes"),
            "aggregate.spill_bytes": view.op_median(self.READS, "spill_bytes"),
            "io.scan_bytes": view.op_median(self.READS, "input_bytes"),
        }


# -- lake_ingest -------------------------------------------------------------

class LakeIngest(Workload):
    """A Z-ordered table takes time-ordered batches. Each round starts
    from a fresh copy of the base table; each cycle appends a batch,
    reads a box over the delta, compacts, upserts (mostly revising the
    newest keys) and reads the box again."""

    READS = ("box_read_delta", "box_read")
    WRITES = ("append", "compact", "upsert")
    BASE_ROWS = 30_000
    WARM_ROWS = 3_000            # the side table the warm-up cycle runs on
    BATCH_ROWS = 3_000
    UPSERT_ROWS = 1_000
    CYCLES = 1                   # append/compact/upsert cycles per round
    SLAB = gen.TS_SPAN // 16     # time width of one batch
    BOUNDS = {"a_lo": 0, "a_hi": gen.TS_SPAN - 1, "b_lo": 0, "b_hi": gen.X_SPAN - 1}

    def generate(self):
        rng = self.rng
        half = gen.TS_SPAN // 2
        base = gen.lake_table(gen.lake_rows(rng, np.arange(self.BASE_ROWS), 0, half))
        gen.write_parquet(base, self.path("base"), 4)
        gen.write_parquet(base.slice(0, self.WARM_ROWS), self.path("warm_base"), 1)
        self.cycles = []
        next_key = self.BASE_ROWS
        for i in range(self.CYCLES):
            lo = half + i * self.SLAB
            keys = np.arange(next_key, next_key + self.BATCH_ROWS)
            next_key += self.BATCH_ROWS
            batch = gen.lake_table(gen.lake_rows(rng, keys, lo, lo + self.SLAB))
            gen.write_parquet(batch, self.path(f"append{i}"), 1)
            gen.write_parquet(self.upsert_batch(base, batch, next_key, lo),
                              self.path(f"upsert{i}"), 1)
            next_key += self.UPSERT_ROWS // 10
            self.cycles.append({
                "append_bytes": dir_bytes(self.path(f"append{i}")),
                "upsert_bytes": dir_bytes(self.path(f"upsert{i}")),
                "box": (lo, lo + self.SLAB // 2, 0, gen.X_SPAN // 2 - 1)})

    def upsert_batch(self, base, batch, new_key, lo):
        """70 % revisions of the batch just appended, 20 % of older rows
        (layout columns kept, as the upsert contract asks), 10 % new keys."""
        rng = self.rng
        n_recent, n_old = self.UPSERT_ROWS * 7 // 10, self.UPSERT_ROWS * 2 // 10
        recent = batch.take(rng.choice(batch.num_rows, n_recent, replace=False))
        old = base.take(rng.choice(base.num_rows, n_old, replace=False))
        new = gen.lake_table(gen.lake_rows(
            rng, np.arange(new_key, new_key + self.UPSERT_ROWS // 10), lo, lo + self.SLAB))
        t = pa.concat_tables([recent, old, new])
        revised = gen.lake_rows(rng, np.asarray(t.column("key")), 0, 1)
        return t.set_column(3, "val", pa.array(revised["val"], pa.int64())).set_column(
            4, "tag", pa.array(list(revised["tag"]), pa.string()))

    def write(self, base: str, table: str):
        self.call("layout.write_zordered", "verb", layout.write_zordered,
                  self.spark.read.parquet(self.path(base)), self.path(table),
                  "ts", "x", bounds=self.BOUNDS)

    def build(self):
        for i, c in enumerate(self.cycles):
            c["append"] = self.spark.read.parquet(self.path(f"append{i}"))
            c["upsert"] = self.spark.read.parquet(self.path(f"upsert{i}"))
        self.counts: list = []       # per round: [box counts in order]
        self.unique: list = []       # (rows, distinct keys) after each upsert

        def warm():
            self.write("warm_base", "warm")
            self.cycle(self.path("warm"), self.cycles[0])
        concurrently(lambda: self.write("base", "table0"), warm)
        self.table = None

    def box(self, kind: str, fn, table: str, box) -> int:
        with self.rec.op(kind) as span:
            df = self.call(f"layout.{fn.__name__}", "plan", fn, self.spark, table, *box)
            n = self.call("count", "exec", df.count)
        if self.rec.traced:
            self.rec.py4j.paused = True
            dirs = {p.split("zbucket=")[1].split("/")[0]
                    for p in df.inputFiles() if "zbucket=" in p}
            live = len(layout.read_manifest(self.spark, table)["gens"])
            self.rec.py4j.paused = False
            span["buckets_read_ratio"] = len(dirs) / live
        return n

    def cycle(self, table: str, c: dict, check_keys: bool = False) -> list:
        with self.rec.op("append"):
            self.call("layout.append_zordered", "verb", layout.append_zordered,
                      c["append"], table)
        counts = [self.box("box_read_delta", layout.read_zordered_box_with_delta,
                           table, c["box"])]
        with self.rec.op("compact") as s:
            self.call("layout.compact_zordered", "verb", layout.compact_zordered,
                      self.spark, table)
            s["delta_bytes"] = c["append_bytes"]
        with self.rec.op("upsert") as s:
            self.call("layout.upsert_zordered", "verb", layout.upsert_zordered,
                      c["upsert"], table, ["key"])
            s["delta_bytes"] = c["upsert_bytes"]
        if check_keys:
            r = (layout.read_zordered(self.spark, table)
                 .agg(F.count(F.lit(1)), F.countDistinct("key")).first())
            self.unique.append((r[0], r[1]))
        counts.append(self.box("box_read", layout.read_zordered_box, table, c["box"]))
        return counts

    def round(self):
        old = self.table
        self.table = self.path(f"table_r{self.rounds + 1}")
        shutil.copytree(self.path("table0"), self.table)
        if old:
            shutil.rmtree(old)
        first = not self.counts
        self.counts.append([n for c in self.cycles
                            for n in self.cycle(self.table, c, check_keys=first)])
        self.rounds += 1

    def check(self, con) -> list:
        model = oracle.TableModel(con, self.path("base"))
        want = []
        for i, c in enumerate(self.cycles):
            model.append(self.path(f"append{i}"))
            want.append(model.box_count(c["box"]))
            model.upsert(self.path(f"upsert{i}"))
            want.append(model.box_count(c["box"]))
        errs = []
        for r, counts in enumerate(self.counts):
            for j, (g, w) in enumerate(zip(counts, want)):
                errs += oracle.check_box_count(g, w, f"round {r + 1} box read {j + 1}")
        for i, (n, k) in enumerate(self.unique):
            errs += oracle.check_keys_unique(n, k, f"after upsert {i + 1}")
        snap = (layout.read_zordered(self.spark, self.table)
                .select("key", "ts", "x", "val", "tag").orderBy("key").collect())
        errs += oracle.check_snapshot([tuple(r) for r in snap], model.rows())
        live = con.execute("SELECT count(*) * 32 + sum(strlen(tag)) FROM t").fetchone()[0]
        self.stored_ratio = dir_bytes(self.table) / live
        return errs[:10]

    def layer_metrics(self, view) -> dict:
        commits = self.WRITES
        amp = [view.totals(s)["output_bytes"] / s["delta_bytes"]
               for s in view.ops(("compact", "upsert"))]
        return {
            "layout.append_jobs": view.op_median(("append",), "jobs"),
            "layout.compact_jobs": view.op_median(("compact",), "jobs"),
            "layout.upsert_jobs": view.op_median(("upsert",), "jobs"),
            "layout.commit_input_bytes": view.op_median(commits, "input_bytes"),
            "layout.commit_written_bytes": view.op_median(commits, "output_bytes"),
            "layout.rewrite_amplification": median(amp),
            "fsio.calls_per_commit": median(s["fsio_calls"] for s in view.ops(commits)),
            "layout.box_buckets_read_ratio": median(
                s["buckets_read_ratio"] for s in view.ops(self.READS)),
            "layout.stored_bytes_per_user_byte": self.stored_ratio,
        }


# -- corpus_dedup ------------------------------------------------------------

class CorpusDedup(Workload):
    """Batches with planted exact and near copies are checked against a
    fresh copy of the persisted dedup index and the admitted documents
    appended; then PQ shortlist-plus-rerank and indexed BM25 queries
    run, and maintenance folds the round's batches."""

    READS = ("ann_query", "bm25_query")
    WRITES = ("dedup_ingest", "dedup_maintain")
    DOCS = 1_200
    BATCH = 120                  # 25 % exact copies, 25 % near copies, 50 % fresh
    BATCHES = 1                  # per round; maintenance folds them after
    QUERY_SETS = 1               # ANN and BM25 queries per round
    QUERIES = 4                  # vectors per ANN query
    QUERY_ID0 = 1 << 40          # query ids stay clear of document ids
    K = 10
    SHORTLIST = 200
    ANN_RECALL_FLOOR = 0.8
    CENTERS = 32

    def generate(self):
        rng = self.rng
        texts = gen.documents(rng, self.DOCS)
        centers = rng.standard_normal((self.CENTERS, gen.DIM))
        self.vecs = gen.embeddings(rng, self.DOCS, centers)
        self.ids = np.arange(self.DOCS, dtype=np.int64)
        self.texts = dict(zip(self.ids.tolist(), texts))
        gen.write_parquet(gen.corpus_table(self.ids, texts, self.vecs), self.path("corpus"), 4)
        sources = rng.permutation(self.DOCS)
        q = self.BATCH // 4
        self.batches = []
        next_id = self.DOCS
        for i in range(self.BATCHES):
            src = sources[i * 2 * q:(i + 1) * 2 * q]
            exact = [texts[j] for j in src[:q]]
            near = [gen.near_copy(rng, texts[j]) for j in src[q:]]
            fresh = gen.documents(rng, self.BATCH - 2 * q)
            ids = np.arange(next_id, next_id + self.BATCH, dtype=np.int64)
            next_id += self.BATCH
            gen.write_parquet(gen.corpus_table(ids, exact + near + fresh,
                                               gen.embeddings(rng, self.BATCH, centers)),
                              self.path(f"batch{i}"), 1)
            self.batches.append({
                "near": set(ids[q:2 * q].tolist()),
                "fresh": set(ids[2 * q:].tolist()),
                "jaccards": [oracle.jaccard(texts[j], t) for j, t in zip(src[q:], near)]})
        picks = rng.choice(self.DOCS, (self.QUERY_SETS, self.QUERIES), replace=False)
        self.qvecs = [gen.queries(rng, self.vecs[p]) for p in picks]
        # three mid-frequency terms per query: below the index's stop-term
        # share, above a handful of matches
        self.terms = [[f"w{int(t)}" for t in rng.choice(np.arange(30, 300), 3, replace=False)]
                      for _ in range(self.QUERY_SETS)]
        self.books = gen.pq_codebooks(rng, self.vecs)

    def build(self):
        for i, b in enumerate(self.batches):
            b["df"] = self.spark.read.parquet(self.path(f"batch{i}"))
        self.qdfs = [self.spark.createDataFrame(
            [(self.QUERY_ID0 + j, [float(x) for x in v]) for j, v in enumerate(qv)],
            "vec_id long, embedding array<double>") for qv in self.qvecs]
        self.corpus = self.spark.read.parquet(self.path("corpus"))
        self.vec_corpus = self.corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
        books = self.spark.createDataFrame(
            self.books, "subspace long, centroid_id long, centroid array<double>")

        # one thread per index: build it, then warm the operations on it
        def dedup_index():
            self.call("dedup.write_dedup_index", "verb", dedup.write_dedup_index,
                      self.corpus, self.path("dedup0"))
            self.ingest_all(self.fresh_index("dedup_warm"))

        def pq_index():
            self.call("similarity.write_pq_index", "verb", similarity.write_pq_index,
                      self.vec_corpus, books, self.path("pq"))
            self.ann(0)

        def text_index():
            self.call("text.write_text_index", "verb", text.write_text_index,
                      self.corpus, self.path("text"))
            self.bm25(0)
        concurrently(dedup_index, pq_index, text_index)
        shutil.rmtree(self.path("dedup_warm"))

    def fresh_index(self, name: str) -> str:
        shutil.copytree(self.path("dedup0"), self.path(name))
        return self.path(name)

    def ingest(self, i: int, index: str):
        b = self.batches[i]
        with self.rec.op("dedup_ingest"):
            with self.rec.span("dedup.check"):
                df = self.call("dedup.incremental_dedup_indexed", "plan",
                               dedup.incremental_dedup_indexed, b["df"], self.spark, index)
                rows = self.call("collect", "exec", df.collect)
            admitted = [r["doc_id"] for r in rows if r["is_new"]]
            with self.rec.span("dedup.append"):
                self.call("dedup.append_dedup_index", "verb", dedup.append_dedup_index,
                          b["df"].where(F.col("doc_id").isin(admitted)), index,
                          batch_id=i + 1)
        self.keep(("dedup", i), sorted((r["doc_id"], r["exact_dup"], r["near_dup"])
                                       for r in rows))

    def maintain(self, index: str):
        with self.rec.op("dedup_maintain"):
            self.call("dedup.maintain_dedup_index", "verb", dedup.maintain_dedup_index,
                      self.spark, index, max_batches=self.BATCHES - 1)

    def ingest_all(self, index: str):
        for i in range(self.BATCHES):
            self.ingest(i, index)
        self.maintain(index)

    def ann(self, i: int):
        with self.rec.op("ann_query"):
            df = self.call("similarity.pq_topk_rerank_indexed", "plan",
                           similarity.pq_topk_rerank_indexed, self.spark,
                           self.path("pq"), self.vec_corpus, self.qdfs[i],
                           k=self.K, shortlist=self.SHORTLIST)
            rows = self.call("collect", "exec", df.collect)
        self.keep(("ann", i), sorted((r["query_id"], r["rank"], r["neighbor_id"],
                                      r["cosine_sim"]) for r in rows))

    def bm25(self, i: int):
        with self.rec.op("bm25_query"):
            df = self.call("text.bm25_search_indexed", "plan", text.bm25_search_indexed,
                           self.spark, self.path("text"), self.terms[i],
                           top_k=self.K, docs=self.corpus)
            rows = self.call("collect", "exec", df.collect)
        self.keep(("bm25", i), [(r["doc_id"], r["score"]) for r in rows])

    def round(self):
        old = getattr(self, "index", None)
        self.index = self.fresh_index(f"dedup_r{self.rounds + 1}")
        if old:
            shutil.rmtree(old)
        for i in range(self.BATCHES):
            self.ingest(i, self.index)
        for j in range(self.QUERY_SETS):
            self.ann(j)
            self.bm25(j)
        self.maintain(self.index)
        self.rounds += 1

    def check(self, con) -> list:
        errs = list(self.errors)
        p = fsio.read_json(self.spark, os.path.join(self.path("dedup0"), "params.json"))
        rows_per_band = p["num_hashes"] // p["num_bands"]
        for i, b in enumerate(self.batches):
            flags = {d: (e, n) for d, e, n in self.results[("dedup", i)]}
            exact = oracle.exact_dup_ids(con, self.path("corpus"),
                                         [self.path(f"batch{j}") for j in range(i)],
                                         self.path(f"batch{i}"))
            floor = oracle.lsh_recall_floor(b["jaccards"], p["num_bands"], rows_per_band)
            errs += [f"batch {i + 1}: {e}" for e in oracle.check_dedup_flags(
                flags, exact, b["fresh"], b["near"], floor)]
        for j in range(self.QUERY_SETS):
            got: dict = {}
            for q, _rank, doc, score in self.results[("ann", j)]:
                got.setdefault(q - self.QUERY_ID0, []).append((doc, score))
            exact_nn = oracle.exact_topk(self.vecs, self.ids, self.qvecs[j], self.K)
            errs += [f"ANN query {j + 1}: {e}" for e in oracle.check_ann(
                got, exact_nn, self.vecs, self.ids, self.qvecs[j], self.ANN_RECALL_FLOOR)]
            scores = oracle.bm25_scores(self.texts, self.terms[j])
            errs += [f"BM25 query {j + 1}: {e}" for e in oracle.check_bm25(
                self.results[("bm25", j)], oracle.top_k(scores, self.K), scores)]
        return errs

    def layer_metrics(self, view) -> dict:
        return {
            "dedup.check_jobs": view.span_median("dedup.check", "jobs"),
            "dedup.check_shuffle_bytes": view.span_median("dedup.check", "shuffle_write_bytes"),
            "dedup.append_input_bytes": view.span_median("dedup.append", "input_bytes"),
            "dedup.maintain_jobs": view.op_median(("dedup_maintain",), "jobs"),
            "similarity.query_jobs": view.op_median(("ann_query",), "jobs"),
            "similarity.py4j_calls": median(s["py4j_calls"] for s in view.ops(("ann_query",))),
            "text.query_jobs": view.op_median(("bm25_query",), "jobs"),
            "text.posting_bytes_read": view.op_median(("bm25_query",), "input_bytes"),
        }


# -- ingest_search -----------------------------------------------------------

class IngestSearch(Workload):
    """``LakeIngest`` and ``CorpusDedup`` in one run: both are ingest
    pipelines with maintenance and a read path, and one run of each
    alone would spend most of its time on session start and cold
    builds. They build side by side; a round is a lake round, then a
    corpus round."""

    def __init__(self, work: str, rng: np.random.Generator, rec):
        super().__init__(work, rng, rec)
        self.parts = []
        for name, cls in (("lake", LakeIngest), ("corpus", CorpusDedup)):
            os.makedirs(os.path.join(work, name))
            self.parts.append(cls(os.path.join(work, name), rng, rec))
        self.READS = sum((p.READS for p in self.parts), ())
        self.WRITES = sum((p.WRITES for p in self.parts), ())

    def generate(self):
        for p in self.parts:
            p.generate()

    def build(self):
        for p in self.parts:
            p.spark = self.spark
        concurrently(*[p.build for p in self.parts])

    def round(self):
        for p in self.parts:
            p.round()
        self.rounds += 1

    def check(self, con) -> list:
        return [e for p in self.parts for e in p.check(con)]

    def layer_metrics(self, view) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_metrics(view).items()}


WORKLOADS = {"hier_report": HierReport, "ingest_search": IngestSearch}
