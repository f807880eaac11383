"""The traced run: the workload as usual, then per-layer metrics.

Layers the requested workload does not touch (the ``build`` workload runs
no queries, ``search`` ingests nothing, ``ingest`` runs no phrase or batch
queries) get one short coverage pass of the workload that does, after the
measured window, so every traced run reports every layer.  Per-layer
figures prefer spans of the requested workload and fall back to the
coverage pass.  Spark stage totals cover the measured window only.
"""

from __future__ import annotations

import os
import time

from perfbench.stats import median

#: per-layer metric → unit; the order is the output order
UNITS = {
    "session.start_s": "s",
    "shipping.zip_s": "s",
    "tokenize.docs_per_s": "docs/s",
    "build.call_s": "s",
    "build.postings_raw_s": "s",
    "build.term_stats_s": "s",
    "build.doc_lens_s": "s",
    "build.segments_s": "s",
    "build.positions_s": "s",
    "build.outside_stages_s": "s",
    "build.postings": "count",
    "build.terms": "count",
    "build.segment_bytes": "bytes",
    "codec.bytes_per_posting": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_busy_s": "s",
    "spark.core_util": "share",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "wand.plan_s": "s",
    "wand.exec_s": "s",
    "wand.jobs_per_call": "count",
    "wand.tasks_per_call": "count",
    "wand.sub_blocks_total": "count",
    "wand.sub_blocks_scored": "count",
    "wand.skip_rate": "share",
    "wand.theta_skip_rate": "share",
    "phrase.plan_s": "s",
    "phrase.exec_s": "s",
    "phrase.jobs_per_call": "count",
    "ranking.s": "s",
    "stream.batch_build_s": "s",
    "merge.s": "s",
    "merge.bytes_written": "bytes",
    "merge.write_amp": "ratio",
    "deletes.tombstone_s": "s",
    "deletes.compact_s": "s",
    "deletes.live_query_s": "s",
    "proc.driver_peak_rss_mb": "MB",
    "proc.jvm_peak_rss_mb": "MB",
}

_STAGES = ("postings_raw", "term_stats", "doc_lens", "segments", "positions")

#: workload → the workloads whose coverage pass fills in its missing layers
_COVER = {"build": ("search", "ingest"), "search": ("ingest",),
          "ingest": ("search",)}


def _med_dur(tracer, name: str) -> float:
    return median([s.dur for s in tracer.named(name)])


def _per_call(ctx, name: str) -> tuple[float, float]:
    """Median (jobs, tasks) per call of the spans called ``name``."""
    counts = [ctx.probe.jobs_tasks(s.attrs["group"])
              for s in ctx.tracer.named(name)]
    return median([j for j, _ in counts]), median([t for _, t in counts])


def _tokenize_pass(ctx, docs, n_docs: int) -> None:
    from instructor_embedding_spark.functions.tfcount import tf_pairs_map_side

    with ctx.tracer.span("functions.tokenize", docs=n_docs):
        (tf_pairs_map_side(docs, "content", "doc_id", include_doc_rows=True)
         .write.format("noop").mode("overwrite").save())


def _scan_stats(ctx, search) -> None:
    from pyspark.sql import functions as F

    from instructor_embedding_spark.query.wand import wand_scan_stats

    spark = ctx.spark
    qdf = spark.createDataFrame([(q.qid, q.text) for q in search.plan.batch],
                                "query_id long, query_text string")
    with ctx.tracer.span("query.wand.scan_stats") as s:
        row = wand_scan_stats(spark, search.handle, qdf, k=10).agg(
            F.sum("sub_total").alias("total"),
            F.sum("sub_scored").alias("scored"),
            F.sum("sub_zero").alias("zero"),
        ).collect()[0]
    s.attrs.update({k: int(row[k] or 0) for k in ("total", "scored", "zero")})


def traced_run(ctx, wl, workloads) -> tuple[dict, dict]:
    """Run ``wl`` traced; returns (per-layer metrics, end-to-end metrics)."""
    probe, tracer = ctx.probe, ctx.tracer
    wl.setup()
    probe.settle()
    before = probe.snapshot()
    t = time.perf_counter()
    wl.loop(coverage=False)
    window_wall = time.perf_counter() - t
    probe.settle()
    spark_totals = probe.window_totals(before, window_wall, ctx.cores)
    wl.check()
    e2e = wl.metrics()

    runs = {wl.name: wl}
    tracer.phase = "coverage"
    for name in _COVER[wl.name]:
        other = workloads[name](ctx)
        other.prepare()
        setup_before = ctx.setup_s
        other.setup()
        ctx.setup_s = setup_before          # coverage is not the run's setup
        attempted, failed = ctx.attempted, ctx.failed
        other.loop(coverage=True)
        ctx.attempted, ctx.failed = attempted, failed
        runs[name] = other
    _tokenize_pass(ctx, wl.docs, wl.corpus["n_docs"])
    _scan_stats(ctx, runs["search"])
    probe.settle()

    out = {
        "session.start_s": _med_dur(tracer, "session.start"),
        "shipping.zip_s": _med_dur(tracer, "shipping.zip"),
    }
    tok = tracer.named("functions.tokenize")[-1]
    out["tokenize.docs_per_s"] = tok.attrs["docs"] / tok.dur

    builds = tracer.named("index.build")
    out["build.call_s"] = median([s.dur for s in builds])
    for st in _STAGES:
        with_stage = [s for s in builds if f"{st}_s" in s.attrs] or [
            s for s in tracer.spans
            if s.name == "index.build" and f"{st}_s" in s.attrs]
        out[f"build.{st}_s"] = median([s.attrs[f"{st}_s"] for s in with_stage])
    out["build.outside_stages_s"] = median([
        s.dur - sum(s.attrs.get(f"{st}_s", 0.0) for st in _STAGES)
        for s in builds])
    last = builds[-1].attrs
    out["build.postings"] = last["postings"]
    out["build.terms"] = last["terms"]
    out["build.segment_bytes"] = last["segment_bytes"]
    out["codec.bytes_per_posting"] = last["segment_bytes"] / last["postings"]

    out.update(spark_totals)

    out["wand.plan_s"] = _med_dur(tracer, "query.wand.plan")
    out["wand.exec_s"] = _med_dur(tracer, "query.wand.exec")
    out["wand.jobs_per_call"], out["wand.tasks_per_call"] = _per_call(
        ctx, "query.wand")
    st = tracer.named("query.wand.scan_stats")[-1].attrs
    out["wand.sub_blocks_total"] = st["total"]
    out["wand.sub_blocks_scored"] = st["scored"]
    out["wand.skip_rate"] = (1.0 - st["scored"] / st["total"]
                             if st["total"] else 0.0)
    nz = st["total"] - st["zero"]
    out["wand.theta_skip_rate"] = (nz - st["scored"]) / nz if nz else 0.0

    out["phrase.plan_s"] = _med_dur(tracer, "query.phrase.plan")
    out["phrase.exec_s"] = _med_dur(tracer, "query.phrase.exec")
    out["phrase.jobs_per_call"] = _per_call(ctx, "query.phrase")[0]
    out["ranking.s"] = _med_dur(tracer, "metrics.ranking")

    ingest = runs["ingest"]
    out["stream.batch_build_s"] = _med_dur(tracer, "streaming.batch_build")
    out["merge.s"] = _med_dur(tracer, "index.merge")
    out["merge.bytes_written"] = ingest.merge_bytes
    out["merge.write_amp"] = ingest.merge_bytes / ingest.content_ingested
    out["deletes.tombstone_s"] = _med_dur(tracer, "index.deletes.tombstone")
    out["deletes.compact_s"] = _med_dur(tracer, "index.deletes.compact")
    out["deletes.live_query_s"] = _med_dur(tracer, "index.deletes.live_query")

    tracer.dump(
        os.path.join(ctx.out_dir, "traces",
                     f"{wl.name}-s{ctx.seed}-{os.getpid()}.json"),
        {"workload": wl.name, "seed": ctx.seed, "per_layer": out,
         "end_to_end": e2e},
    )
    return out, e2e
