"""The workloads: ``search`` and ``ingest`` (in BENCHMARK.json) and ``build``.

Each is a closed loop with one client: the next operation starts when the
previous one has returned, and rounds of operations are issued until their
summed wall time reaches the run length.  Set-up (session, shipping,
fixture index, warm-up) is timed separately; generating inputs is not
timed.  Output checks against the brute-force oracles run after the loop,
outside every timed region, and count into ``failed``.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.oracle import Oracle
from perfbench.stats import median, tail_percentile
from perfbench.trace import SparkProbe, Tracer

#: Sizes for a 4-core box.  Every operation is dominated by its per-call
#: fixed cost at these sizes; larger inputs would not fit the run budget
#: (README.md, "Workloads").
BUILD_DOCS = 8_000
SEARCH_DOCS = 1_000
BATCH_QUERIES = 200
BATCH_EVERY = 4            # single-query calls before each batch call
BATCH_CALLS = 2            # back-to-back batch calls per measured round
INGEST_BASE_DOCS = 1_000
INGEST_BATCH_DOCS = 250
INGEST_MAX_CYCLES = 3
K = 10

QT_SCHEMA = "query_id long, query_text string"
BUILD_STAGES = ("postings_raw", "term_stats", "doc_lens", "segments",
                "positions")


def log(msg: str) -> None:
    """Progress line on stderr (stdout is reserved for the result)."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def build_attrs(index_dir: str) -> dict:
    """Stage walls and counts of a finished build, from its manifests."""
    m = {}
    for stage in BUILD_STAGES:
        path = os.path.join(index_dir, "_manifest", f"{stage}.json")
        if os.path.exists(path):
            with open(path) as f:
                m[stage] = json.load(f)
    attrs = {f"{s}_s": m[s]["wall_ms"] / 1000.0 for s in m}
    attrs.update(
        docs_tokenized=m["postings_raw"]["metrics"]["docs_tokenized"],
        postings=m["segments"]["metrics"]["postings"],
        terms=m["term_stats"]["rows"],
        segment_bytes=m["segments"]["metrics"]["bytes_compressed"],
    )
    return attrs


@dataclass
class Ctx:
    spark: object            # set once the session has started
    work: str                # per-run scratch directory
    out_dir: str             # traces and results kept across runs
    seed: int
    seconds: float
    cores: int
    tracer: Tracer
    probe: SparkProbe | None
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    @contextmanager
    def call(self, name: str, **attrs):
        """Span + (traced run) job group around one call into the program."""
        with self.tracer.span(name, **attrs) as s:
            if self.probe is None:
                yield s
            else:
                with self.probe.group(name) as gid:
                    s.attrs["group"] = gid
                    yield s

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.notes.append(why)


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.measured = 0.0

    def setup_timed(self, fn, *a, **kw):
        t = time.perf_counter()
        out = fn(*a, **kw)
        dt = time.perf_counter() - t
        self.ctx.setup_s += dt
        log(f"{self.name} setup {fn.__name__}: {dt:.3f} s")
        return out

    def op(self, fn, *a, label: str = "", **kw) -> tuple[float, object]:
        """Run one measured operation; errors count as failed ops."""
        self.ctx.attempted += 1
        t = time.perf_counter()
        try:
            out = fn(*a, **kw)
        except Exception as e:  # noqa: BLE001 - a failed op is data
            out = None
            self.ctx.fail(1, f"{self.name}: {type(e).__name__}: {e}"[:300])
        dt = time.perf_counter() - t
        self.measured += dt
        log(f"{self.name} op {label or fn.__name__}: {dt:.3f} s")
        return dt, out

    def done(self) -> bool:
        return self.measured >= self.ctx.seconds

    def prepare(self) -> None:
        """Generate inputs, before the session starts; not timed."""

    def setup(self) -> None:
        """Fixture and warm-up; timed into ``setup_s``."""

    def loop(self, coverage: bool) -> None:
        """Measured rounds; ``coverage`` stops after one round."""
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def metrics(self) -> dict[str, float]:
        raise NotImplementedError

    def report(self) -> dict[str, object]:
        """The workload's metrics under their own names, for the summary."""
        return {}


# ---------------------------------------------------------------- build

class Build(Workload):
    """Cold ``build_index`` over a fresh corpus with default IndexParams."""

    name = "build"

    def prepare(self) -> None:
        self.corpus = gen.write_corpus(self.ctx.work, self.ctx.seed,
                                       BUILD_DOCS, self.ctx.cores)
        self.builds: list[tuple[float, str]] = []

    def _build(self, out_dir: str, docs=None):
        from instructor_embedding_spark.index.build import build_index

        with self.ctx.call("index.build") as s:
            h = build_index(self.ctx.spark, self.docs if docs is None else docs,
                            out_dir)
        if self.ctx.tracer.enabled:
            s.attrs.update(build_attrs(out_dir))
        return h

    def setup(self) -> None:
        from pyspark.sql import functions as F

        self.docs = self.ctx.spark.read.parquet(self.corpus["path"])

        def warm():
            return self._build(os.path.join(self.ctx.work, "warm"),
                               self.docs.filter(F.col("doc_id") < 1_000))

        self.setup_timed(warm)

    def loop(self, coverage: bool) -> None:
        while not self.builds or not (coverage or self.done()):
            out = os.path.join(self.ctx.work, f"build{len(self.builds)}")
            dt, h = self.op(self._build, out, label="build_index")
            if h is None:
                break
            if self.builds:
                shutil.rmtree(self.builds[-1][1], ignore_errors=True)
            self.builds.append((dt, out))

    def check(self) -> None:
        from instructor_embedding_spark import datagen
        from instructor_embedding_spark.index.build import load_index
        from instructor_embedding_spark.query.wand import wand_topk

        ctx, spark = self.ctx, self.ctx.spark
        bad_sha = datagen.verify_sha256(self.docs)
        ctx.fail(ctx.attempted if bad_sha else 0,
                 f"build: {bad_sha} corpus rows fail verify_sha256")
        if not self.builds:
            return
        last = self.builds[-1][1]
        tok = build_attrs(last)["docs_tokenized"]
        ctx.fail(int(tok != BUILD_DOCS),
                 f"build: docs_tokenized {tok} != {BUILD_DOCS}")
        probes = gen.probe_queries(ctx.seed, BUILD_DOCS)
        qdf = spark.createDataFrame([(q.qid, q.text) for q in probes],
                                    QT_SCHEMA)
        rows = wand_topk(spark, load_index(spark, last), qdf, k=K).collect()
        oracle = Oracle(self.corpus["path"])
        try:
            bad = oracle.bad_topk(probes, rows, K)
        finally:
            oracle.close()
        ctx.fail(int(bool(bad)), f"build: probe queries {bad} differ from "
                 "the oracle")

    def metrics(self) -> dict[str, float]:
        secs = [dt for dt, _ in self.builds]
        return {
            "throughput_per_s": BUILD_DOCS * len(secs) / sum(secs),
            "latency_p50_ms": median(secs) * 1000.0,
            "index_bytes_per_content_byte":
                dir_bytes(self.builds[-1][1]) / self.corpus["content_bytes"],
        }

    def report(self) -> dict[str, object]:
        m = self.metrics()
        return {
            "build_docs_per_s": (round(m["throughput_per_s"], 2),
                                 f"docs/s (n={len(self.builds)} builds)"),
            "index_bytes_per_content_byte":
                (round(m["index_bytes_per_content_byte"], 4), "ratio"),
        }


# ---------------------------------------------------------------- search

class Search(Workload):
    """Interactive single-query calls interleaved with batch evaluation."""

    name = "search"

    def prepare(self) -> None:
        ctx = self.ctx
        self.corpus = gen.write_corpus(ctx.work, ctx.seed, SEARCH_DOCS,
                                       ctx.cores)
        self.plan = gen.search_plan(ctx.seed, SEARCH_DOCS, n_singles=40,
                                    batch_size=BATCH_QUERIES)
        self.singles: list[tuple[gen.SingleOp, float, list]] = []
        self.batches: list[tuple[float, list]] = []

    def setup(self) -> None:
        from instructor_embedding_spark import datagen
        from instructor_embedding_spark.index.build import (
            IndexParams, build_index,
        )

        self.docs = self.ctx.spark.read.parquet(self.corpus["path"])
        self.qrels = datagen.qrels_df(self.ctx.spark, SEARCH_DOCS)

        def fixture():
            with self.ctx.call("index.build") as s:
                h = build_index(self.ctx.spark, self.docs,
                                os.path.join(self.ctx.work, "index"),
                                IndexParams(store_positions=True))
            if self.ctx.tracer.enabled:
                s.attrs.update(build_attrs(h.index_dir))
            return h

        def warm():
            return self.single(self.plan.warm)

        self.handle = self.setup_timed(fixture)
        self.setup_timed(warm)

    def single(self, op: gen.SingleOp) -> list:
        from instructor_embedding_spark.query.phrase import phrase_topk
        from instructor_embedding_spark.query.wand import wand_topk

        spark, q, span = self.ctx.spark, op.query, self.ctx.tracer.span
        if op.op == "phrase":
            with self.ctx.call("query.phrase"):
                with span("query.phrase.plan"):
                    df = phrase_topk(spark, self.handle.positions(spark),
                                     [(q.qid, q.text)], k=K)
                with span("query.phrase.exec"):
                    return df.collect()
        with self.ctx.call("query.wand", op=op.op):
            with span("query.wand.plan"):
                qdf = spark.createDataFrame([(q.qid, q.text)], QT_SCHEMA)
                df = wand_topk(spark, self.handle, qdf, k=K,
                               require_all=op.op == "and")
            with span("query.wand.exec"):
                return df.collect()

    def batch(self) -> list:
        """One batch-evaluation call: WAND over the batch query set, then
        the ranking metrics of its results against the qrels."""
        from instructor_embedding_spark.metrics.ranking import (
            per_query_metrics, summary_metrics,
        )
        from instructor_embedding_spark.query.wand import wand_topk

        spark = self.ctx.spark
        with self.ctx.call("query.wand.batch"):
            qdf = spark.createDataFrame(
                [(q.qid, q.text) for q in self.plan.batch], QT_SCHEMA)
            rows = wand_topk(spark, self.handle, qdf, k=K).collect()
        with self.ctx.call("metrics.ranking"):
            res = spark.createDataFrame(
                rows, "query_id long, rank long, doc_id long, score double")
            summary_metrics(per_query_metrics(spark, res, self.qrels)).collect()
        return rows

    def loop(self, coverage: bool) -> None:
        """Rounds of BATCH_EVERY single-query calls, then BATCH_CALLS batch
        calls (one in a coverage pass), until the run length is reached, at
        most as many rounds as the plan has single-query calls for.  The
        single-query calls run back to back, and so do the batch calls:
        interleaving them widened the run-to-run spread of both in trial
        runs."""
        ops = iter(self.plan.singles)
        while not (self.batches and (coverage or self.done())):
            singles = list(itertools.islice(ops, BATCH_EVERY))
            if len(singles) < BATCH_EVERY:
                break
            for op in singles:
                dt, rows = self.op(self.single, op, label=op.op)
                if rows is not None:
                    self.singles.append((op, dt, rows))
            for _ in range(1 if coverage else BATCH_CALLS):
                dt, rows = self.op(self.batch)
                if rows is None:
                    return
                self.batches.append((dt, rows))

    def check(self) -> None:
        ctx = self.ctx
        wanted = set(self.plan.batch_sample)
        sample = [q for q in self.plan.batch if q.qid in wanted]
        oracle = Oracle(self.corpus["path"])
        try:
            for mode in ("topk", "and"):
                done = [(op.query, rows) for op, _dt, rows in self.singles
                        if op.op == mode]
                bad = oracle.bad_topk([q for q, _ in done],
                                      [r for _, rs in done for r in rs], K,
                                      require_all=mode == "and")
                ctx.fail(len(bad), f"search/{mode}: {bad} differ from the "
                         "oracle")
            for i, (_dt, rows) in enumerate(self.batches):
                bad = oracle.bad_topk(
                    sample, [r for r in rows if r["query_id"] in wanted], K)
                ctx.fail(len(bad), f"search/batch {i}: sampled queries {bad} "
                         "differ from the oracle")
            bad = oracle.bad_phrase(
                [(op.query, rows) for op, _dt, rows in self.singles
                 if op.op == "phrase"], K)
            ctx.fail(len(bad), f"search/phrase: {bad} differ from the oracle")
        finally:
            oracle.close()

    def metrics(self) -> dict[str, float]:
        return {
            "throughput_per_s": len(self.plan.batch)
            / median([dt for dt, _ in self.batches]),
            "latency_p50_ms": median([dt for _, dt, _ in self.singles]) * 1000.0,
            "index_bytes_per_content_byte":
                dir_bytes(self.handle.index_dir) / self.corpus["content_bytes"],
        }

    def report(self) -> dict[str, object]:
        m = self.metrics()
        out: dict[str, object] = {}
        for kind in ("topk", "and", "phrase"):
            xs = [dt * 1000.0 for op, dt, _ in self.singles if op.op == kind]
            out[f"interactive_{kind}_p50_ms"] = (
                round(median(xs), 2) if xs else None, f"ms (n={len(xs)})")
        lat = [dt * 1000.0 for _, dt, _ in self.singles]
        p, v = tail_percentile(lat)
        out["interactive_p90_ms"] = (round(v, 2),
                                     f"ms (reported as p{p}, n={len(lat)})")
        out["batch_queries_per_s"] = (
            round(m["throughput_per_s"], 2),
            f"1/s (median call of n={len(self.batches)}, "
            f"{len(self.plan.batch)} queries each)")
        out["single_query_property_share"] = (
            gen.shares([op.query.prop for op, _, _ in self.singles]), "share")
        out["single_query_op_share"] = (
            gen.shares([op.op for op, _, _ in self.singles]), "share")
        out["batch_query_property_share"] = (
            gen.shares([q.prop for q in self.plan.batch]), "share")
        return out


# ---------------------------------------------------------------- ingest

@dataclass
class LiveRead:
    """One measured live query and the index state it ran against."""

    query: gen.Query
    rows: list
    index_docs: list[int]      # docs the index holds, tombstoned or not
    live_docs: list[int]       # docs not tombstoned


class Ingest(Workload):
    """Micro-batch ingest beside live reads.  One cycle: stream-build the
    micro-batch, merge it into the live index, tombstone older docs, query,
    compact the tombstones away, query again."""

    name = "ingest"

    def prepare(self) -> None:
        ctx = self.ctx
        self.plan = gen.IngestPlan(ctx.seed, INGEST_BASE_DOCS,
                                   INGEST_BATCH_DOCS)
        self.corpus = gen.write_corpus(ctx.work, ctx.seed,
                                       self.plan.max_doc(INGEST_MAX_CYCLES),
                                       ctx.cores)
        qgen = gen.QueryGen(ctx.seed, INGEST_BASE_DOCS, stream=11)
        self.queries = iter([qgen.query(i + 1, p) for i, p in
                             enumerate(gen.CLASS_PATTERN)])
        self.index_docs = list(range(INGEST_BASE_DOCS))
        self.write_s: list[float] = []
        self.reads: list[tuple[float, LiveRead]] = []
        self.docs_ingested = 0
        self.merge_bytes = 0
        self.content_ingested = 0

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from instructor_embedding_spark.index.build import build_index

        self.docs = self.ctx.spark.read.parquet(self.corpus["path"])

        def initial():
            out = os.path.join(self.ctx.work, "live-init")
            with self.ctx.call("index.build") as s:
                h = build_index(
                    self.ctx.spark,
                    self.docs.filter(F.col("doc_id") < INGEST_BASE_DOCS), out)
            if self.ctx.tracer.enabled:
                s.attrs.update(build_attrs(out))
            return h

        def warm():
            return self.live_query(next(self.queries))

        self.live = self.setup_timed(initial)
        self.setup_timed(warm)

    def live_query(self, q: gen.Query) -> list:
        from instructor_embedding_spark.index.deletes import wand_topk_live

        spark = self.ctx.spark
        with self.ctx.call("index.deletes.live_query"):
            qdf = spark.createDataFrame([(q.qid, q.text)], QT_SCHEMA)
            return wand_topk_live(spark, self.live, qdf, k=K).collect()

    def _write(self, name: str, fn, *a):
        def call():
            with self.ctx.call(name) as s:
                out = fn(*a)
            if self.ctx.tracer.enabled and name == "streaming.batch_build":
                s.attrs.update(build_attrs(out[0]))
            return out

        dt, out = self.op(call, label=name)
        self.write_s.append(dt)
        if out is None:
            raise RuntimeError(f"{name} failed")
        return out

    def _read(self, live_docs: list[int]) -> None:
        q = next(self.queries)
        dt, rows = self.op(self.live_query, q)
        if rows is not None:
            self.reads.append((dt, LiveRead(q, rows, self.index_docs,
                                            live_docs)))

    def cycle(self, c: int) -> None:
        from instructor_embedding_spark.index.build import load_index
        from instructor_embedding_spark.index.deletes import (
            compact_deletes, delete_docs,
        )
        from instructor_embedding_spark.index.merge import merge_indexes
        from instructor_embedding_spark.streaming.incremental import (
            stream_build_batch_indexes,
        )

        spark = self.ctx.spark
        (lo, hi), deleted = self.plan.next_cycle()
        cdir = os.path.join(self.ctx.work, f"cycle{c}")
        inp = os.path.join(cdir, "input")
        # the micro-batch arrives as one parquet file: not timed
        arriving = self.corpus["docs"][lo:hi]
        gen.write_docs(inp, arriving)
        self.content_ingested += sum(len(d["content"].encode())
                                     for d in arriving)

        dirs = self._write("streaming.batch_build", stream_build_batch_indexes,
                           spark, inp, os.path.join(cdir, "batches"))
        self.live = self._write("index.merge", merge_indexes, spark,
                                [self.live, load_index(spark, dirs[0])],
                                os.path.join(cdir, "merged"))
        self.merge_bytes += dir_bytes(self.live.index_dir)
        self._write("index.deletes.tombstone", delete_docs, spark,
                    self.live.index_dir,
                    spark.createDataFrame([(d,) for d in deleted],
                                          "doc_id long"))
        self.index_docs = self.index_docs + list(range(lo, hi))
        gone = set(deleted)
        survivors = [d for d in self.index_docs if d not in gone]
        self._read(survivors)
        self.live = self._write("index.deletes.compact", compact_deletes,
                                spark, self.live,
                                os.path.join(cdir, "compacted"))
        self.index_docs = survivors
        self._read(survivors)
        self.docs_ingested += hi - lo

    def loop(self, coverage: bool) -> None:
        c = 0
        while c < INGEST_MAX_CYCLES and not (c and (coverage or self.done())):
            try:
                self.cycle(c)
            except RuntimeError:
                break                 # already counted as a failed op
            c += 1

    def check(self) -> None:
        """Every live read against ``bm25_topk`` over the docs its index
        held, ranked among the live ones; the last read of each cycle ran
        on the compacted index, so it also checks compaction."""
        oracle = Oracle(self.corpus["path"])
        try:
            bad = [r.query.qid for _dt, r in self.reads
                   if oracle.bad_topk([r.query], r.rows, K,
                                      index_docs=r.index_docs,
                                      live_docs=r.live_docs)]
        finally:
            oracle.close()
        self.ctx.fail(len(bad), f"ingest: live queries {bad} differ from the "
                      "oracle over the live docs")

    def metrics(self) -> dict[str, float]:
        return {
            "throughput_per_s": self.docs_ingested / sum(self.write_s),
            "latency_p50_ms": median([dt for dt, _ in self.reads]) * 1000.0,
            "index_bytes_per_content_byte":
                dir_bytes(self.live.index_dir) / sum(
                    len(self.corpus["docs"][d]["content"].encode())
                    for d in self.index_docs),
        }

    def report(self) -> dict[str, object]:
        m = self.metrics()
        lat = [dt * 1000.0 for dt, _ in self.reads]
        p, v = tail_percentile(lat)
        return {
            "ingest_docs_per_s": (round(m["throughput_per_s"], 2),
                                  f"docs/s (n={len(self.write_s)} write calls)"),
            "ingest_query_p50_ms": (round(m["latency_p50_ms"], 2),
                                    f"ms (n={len(lat)})"),
            "ingest_query_tail_ms": (round(v, 2),
                                     f"ms (reported as p{p}, n={len(lat)})"),
            "ingest_query_property_share": (
                gen.shares([r.query.prop for _, r in self.reads]), "share"),
        }


WORKLOADS = {w.name: w for w in (Search, Ingest, Build)}
