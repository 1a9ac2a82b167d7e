"""The benchmark's three workloads, each a closed loop with one client: the
next operation starts only after the previous one finished.

- ``ingest``: one operation is ``KgPipeline(...).run(pages)`` with the
  default gazetteer scorer, into a fresh workdir. The write-heavy,
  shuffle-bound build path (extract → mentions → link/canon → triples →
  counts → lineage); it never calls the model kernel.
- ``ner_gp``: one operation is ``detect_mentions`` with the GlobalPointer
  model over long pages, into a noop sink. The paper's span scorer and
  decoder, with no shuffle.
- ``kg_queries``: one operation is a pass over ``KG_MIX``, a fixed subset of
  the ``bench.HEADLINE`` queries, each into a noop sink. The read side of the
  mention, canon and triples stores. The seed sets the order of the pass.

Inputs are made from the seed during set-up and written to parquet, so the
timed operations never include input synthesis. Outputs are checked outside
the timed operations; every mismatch counts as a failed operation.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time

from . import proctree
from .kg_expected import data_fingerprint, expected_hashes, generate_sf, value_hash
from .tracing import Tracer, reduce_event_log

# Sizes are chosen so that one run, set-up included, takes 25-50 s on a
# 4-core host, and 70 runs fit in under an hour; the time goes mostly to JVM
# and Python-worker warm-up, which every fresh process pays. Each workload
# runs a fixed number of untimed warm-up operations, then a fixed minimum of
# timed ones, so the median always falls on the same place in the JIT
# warm-up curve.
INGEST_PAGES = 8_000
INGEST_OPS = 5
INGEST_WARMUP = 1
NER_DOCS = 3_000
NER_OPS = 5
NER_WARMUP = 1
KG_PASSES = 1
# long pages (~150-200 tokens) so the L² GlobalPointer plane dominates
NER_MIN_SENTS, NER_EXTRA_SENTS = 10, 5
NER_LOGIT_BIAS = -8.0  # sparse output, as a trained model's would be
NER_SAMPLE_MOD = 23  # docs with xxhash64(url) % 23 == 0 are checked single-process
KG_SF = "0.01"
SOURCE_FILES = 16  # parquet files per synthesized input
# Input materialization runs this often in set-up; setup_s counts the median
# of these repeats, so one slow repeat does not move it.
SETUP_REPEATS = 3

# query → module group, one or more queries per package layer. The pure-SQL
# queries are the control: they touch no package layer.
KG_MIX = {
    "dedup_ngram_jaccard": "dedup",
    "doc_containment": "dedup",
    "ann_topk": "similarity",
    "graph_pagerank": "graph",
    "entity_embeddings": "kgprep",
    "corpus_curation": "curation",
    "doc_winnow_fingerprint": "textstats",
    "q1_pricing_summary": "sql_controls",
}
KG_GROUPS = ("dedup", "similarity", "graph", "kgprep", "curation", "textstats", "sql_controls")

END_TO_END = {"setup_s": "s", "op_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.s": "s",
    "sources.s": "s",
    "kg.stores_s": "s",
    "trace.op_s": "s",
    "spark.jobs": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    # ingest
    "extract.s": "s",
    "mentions.gazetteer_s": "s",
    "triples.s": "s",
    "triple_counts.s": "s",
    "pipeline.unstaged_s": "s",
    "lineage.rows_out.mentions": "count",
    "lineage.rows_out.triples": "count",
    # ner_gp
    "tokenizer.s": "s",
    "encoder.s": "s",
    "heads.score_decode_s": "s",
    "model.docs_per_core_s": "1/s",
    "mentions.udf_overhead_s": "s",
    "mentions.spans": "count",
    # kg_queries
    **{f"q.{q}_s": "s" for q in KG_MIX},
    **{f"{g}.s": "s" for g in KG_GROUPS},
    "dedup.exchange_rows": "count",
    "dedup.join_rows": "count",
    "graph.jobs": "count",
    "cache.release_s": "s",
}


class Run:
    """State of one benchmark run: the session, where it may write, the
    tracer, and the operation counts that go into the result."""

    def __init__(self, spark, rundir: str, seed: int, seconds: float, tracer: Tracer):
        self.spark = spark
        self.rundir = rundir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.materialize_s: list[float] = []
        self.op_s: list[float] = []
        self.op_cpu_s: list[float] = []
        self.layers: dict[str, float] = {}

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong output: {what}", file=sys.stderr)

    def materialize(self, build) -> str:
        """Run ``build(dir)`` SETUP_REPEATS times into fresh dirs; keep the
        last and delete the others."""
        paths = []
        for k in range(SETUP_REPEATS):
            path = os.path.join(self.rundir, f"input{k}")
            t0 = time.time()
            build(path)
            self.materialize_s.append(time.time() - t0)
            paths.append(path)
        for p in paths[:-1]:
            shutil.rmtree(p, ignore_errors=True)
        return paths[-1]

    def timed(self, op, min_ops: int, after=None, warmup: int = 0) -> None:
        """Closed loop: ``op(i)`` until ``seconds`` have passed and at least
        ``min_ops`` operations ran. The fixed minimum keeps the number of
        operations, and so their median, the same from run to run. Only
        ``op`` is timed; ``after(i)`` runs untimed between operations, for
        checks and clean-up. The first ``warmup`` operations are set-up:
        they are checked but not timed."""
        from entity_extractor_by_pointer_spark.cache import release_all

        pid = os.getpid()
        for i in range(-warmup, 0):
            release_all()
            self.spark.catalog.clearCache()
            op(i)
            if after is not None:
                after(i)
        proctree.reset_peak_rss(pid)
        peaks: dict[int, int] = {}
        self.first_op_at = time.time()
        i = 0
        while i < min_ops or time.time() - self.first_op_at < self.seconds:
            release_all()
            self.spark.catalog.clearCache()
            cpu0 = proctree.cpu_seconds(pid)
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    op(i)
                ok = True
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                print(f"perfbench: operation {i} failed: {type(e).__name__}: {e}", file=sys.stderr)
                ok = False
            self.op_s.append(time.perf_counter() - t0)
            self.op_cpu_s.append(proctree.cpu_seconds(pid) - cpu0)
            # kept per process, so a worker that exits still counts
            for p, kb in proctree.peak_rss_kb(pid).items():
                peaks[p] = max(peaks.get(p, 0), kb)
            if ok and after is not None:
                after(i)
            elif not ok:
                self.check(False, f"operation {i}")
            i += 1
        self.peak_rss_mb = sum(peaks.values()) / 1024

    def spark_layers(self, groups: dict) -> None:
        """spark.* per timed operation, from the event-log groups of the
        ``op`` spans and the spans below them."""
        ops = _groups_under(self.tracer.spans, groups, "op")
        n = max(1, len(self.op_s))
        skews = [m["task_skew"] for m in ops if m["tasks"] > 1]
        self.layers.update(
            {
                "spark.jobs": sum(m["jobs"] for m in ops) / n,
                "spark.shuffle_write_mb": sum(m["shuffle_write_mb"] for m in ops) / n,
                "spark.spill_mb": sum(m["spill_mb"] for m in ops) / n,
                "spark.gc_s": sum(m["gc_s"] for m in ops) / n,
                "spark.task_skew": max(skews, default=1.0),
                "ops.task_s": sum(m["task_s"] for m in ops) / n,
            }
        )


def _descendant_groups(spans: list[dict]) -> dict[int, list[int]]:
    """span index → itself and every span below it."""
    out = {i: [i] for i in range(len(spans))}
    for i, s in enumerate(spans):
        p = s["parent"]
        while p is not None:
            out[p].append(i)
            p = spans[p]["parent"]
    return out


def _groups_under(spans, groups, name: str) -> list[dict]:
    """Event-log group metrics of every span named ``name`` and its children."""
    below = _descendant_groups(spans)
    return [
        groups[str(g)]
        for i, s in enumerate(spans)
        if s["name"] == name
        for g in below[i]
        if str(g) in groups
    ]


# ---------------------------------------------------------------------------
# ingest


def _counts_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def ingest(run: Run) -> None:
    from pyspark.sql import functions as F

    from entity_extractor_by_pointer_spark.plans.pipeline import (
        KgPipeline,
        PipelineConfig,
        triples_for_pages,
    )
    from entity_extractor_by_pointer_spark.operators.triples import triple_counts
    from entity_extractor_by_pointer_spark.sources.pages import generate_pages

    spark = run.spark
    start = (run.seed % 2**16) * INGEST_PAGES

    def build(path: str) -> None:
        with run.tracer.span("sources"):
            generate_pages(spark, start + INGEST_PAGES, partitions=SOURCE_FILES, start=start).write.parquet(path)

    pages = spark.read.parquet(run.materialize(build))

    stage_metrics: list[dict] = []
    pipes: dict[int, KgPipeline] = {}
    counts = {}
    got: dict[int, list[tuple]] = {}

    def op(i: int) -> None:
        pipes[i] = KgPipeline(spark, os.path.join(run.rundir, f"op{i}"), f"op{i}")
        counts[i] = pipes[i].run(pages)

    def after(i: int) -> None:
        writer = pipes.pop(i).writer
        got[i] = _counts_rows(counts.pop(i))
        if i == -INGEST_WARMUP:
            # byte-identity invariant: the stored extracted text equals the
            # text each page was rendered from, for every url on both sides
            extracted = writer.read_stage("pages").select("url", "text").alias("e")
            joined = extracted.join(pages.select("url", "text").alias("p"), "url", "full_outer")
            n_bad = joined.where("NOT (e.text <=> p.text)").count()
            run.check(n_bad == 0, f"ingest extraction invariant: {n_bad} pages differ")
        if run.tracer.sc is not None and i >= 0:
            m = {(r["stage"], r["key"]): r["value"] for r in writer.read_metrics().collect()}
            lineage = writer.read_lineage().groupBy("stage").agg(F.sum("rows_out").alias("n"))
            rows = {r["stage"]: r["n"] for r in lineage.collect()}
            stage_metrics.append({"m": m, "rows": rows})
        shutil.rmtree(writer.workdir, ignore_errors=True)

    run.timed(op, INGEST_OPS, after, warmup=INGEST_WARMUP)

    # The reference is the fused, unmaterialized path over the same pages.
    reference = _counts_rows(triple_counts(triples_for_pages(pages, PipelineConfig())))
    run.check(bool(reference), "ingest: the fused triples_for_pages path found no triples")
    for i, rows in got.items():
        run.check(rows == reference, f"ingest op {i}: triple_counts vs fused path")

    if stage_metrics:
        def med(f):
            return statistics.median(f(s) for s in stage_metrics)

        staged = ("pages", "mentions", "triples", "triple_counts")
        run.layers.update(
            {
                "extract.s": med(lambda s: s["m"][("pages", "seconds")]),
                "mentions.gazetteer_s": med(lambda s: s["m"][("mentions", "seconds")]),
                "triples.s": med(lambda s: s["m"][("triples", "seconds")]),
                "triple_counts.s": med(lambda s: s["m"][("triple_counts", "seconds")]),
                "pipeline.unstaged_s": med(
                    lambda s: s["m"][("pipeline", "wall_seconds")] - sum(s["m"][(st, "seconds")] for st in staged)
                ),
                "lineage.rows_out.mentions": med(lambda s: s["rows"]["mentions"]),
                "lineage.rows_out.triples": med(lambda s: s["rows"]["triples"]),
            }
        )


# ---------------------------------------------------------------------------
# ner_gp


def _ner_config():
    from entity_extractor_by_pointer_spark.functions.model import NerConfig

    return NerConfig(
        classes=["person", "location", "organization"], model_type="gp", logit_bias=NER_LOGIT_BIAS
    )


def _observed_mentions(df, cfg):
    """detect_mentions with an order-insensitive checksum of its full output
    riding the same pass (count and xor of row hashes)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from entity_extractor_by_pointer_spark.operators.mentions import detect_mentions

    obs = Observation()
    out = detect_mentions(df, cfg)
    return out.observe(
        obs, F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*out.columns)).alias("h")
    ), obs


def kernel_probe(texts: list[str], cfg) -> dict[str, float]:
    """Single-process phase times of the mention kernel over ``texts``,
    scaled to one pass over NER_DOCS docs: tokenizer, encoder, and the
    fused GlobalPointer score+decode (predict_batch minus the other two)."""
    import numpy as np

    from entity_extractor_by_pointer_spark.functions.model import PointerNerModel
    from entity_extractor_by_pointer_spark.functions.tokenizer import encode_for_inference

    model = PointerNerModel(cfg)
    L = cfg.max_sequence_length
    reps = {"tok": [], "enc": [], "all": []}
    for _ in range(3):
        t0 = time.perf_counter()
        enc = [encode_for_inference(t, L) for t in texts]
        reps["tok"].append(time.perf_counter() - t0)
        ids = np.asarray([e[0] for e in enc], dtype=np.int32)
        mask = np.asarray([e[1] for e in enc], dtype=np.int32)
        t0 = time.perf_counter()
        model.encoder(ids, mask)
        reps["enc"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        model.predict_batch(texts)
        reps["all"].append(time.perf_counter() - t0)
    scale = NER_DOCS / len(texts)
    tok, enc, total = (statistics.median(reps[k]) for k in ("tok", "enc", "all"))
    return {
        "tokenizer.s": tok * scale,
        "encoder.s": enc * scale,
        "heads.score_decode_s": (total - tok - enc) * scale,
        "model.docs_per_core_s": len(texts) / total,
    }


def ner_gp(run: Run) -> None:
    from pyspark.sql import functions as F

    from entity_extractor_by_pointer_spark.functions.model import PointerNerModel
    from entity_extractor_by_pointer_spark.sources.pages import generate_pages

    spark = run.spark
    cfg = _ner_config()
    start = (run.seed % 2**16) * NER_DOCS

    def build(path: str) -> None:
        with run.tracer.span("sources"):
            generate_pages(
                spark,
                start + NER_DOCS,
                partitions=SOURCE_FILES,
                start=start,
                min_sents=NER_MIN_SENTS,
                extra_sents=NER_EXTRA_SENTS,
            ).write.parquet(path)

    docs = spark.read.parquet(run.materialize(build))

    # Warm-up pass. Its full output is the reference for every timed pass.
    # It must equal the single-process model exactly on every doc it found
    # spans in, plus a hash-chosen sample of the others.
    out, obs = _observed_mentions(docs, cfg)
    rows = out.collect()
    reference = obs.get
    with_spans = list({r["url"] for r in rows})
    sample = (
        docs.where(F.col("url").isin(with_spans) | (F.xxhash64("url") % NER_SAMPLE_MOD == 0))
        .select("url", "text")
        .collect()
    )
    urls = [r["url"] for r in sample]
    texts = [r["text"] for r in sample]
    expected = {
        (u, cfg.classes[sp.class_id], sp.entity, sp.start_idx, sp.end_idx, sp.score)
        for u, spans in zip(urls, PointerNerModel(cfg).predict_batch(texts))
        for sp in spans
    }
    wanted = set(urls)
    got = {
        (r["url"], r["type"], r["entity"], r["start_idx"], r["end_idx"], r["score"])
        for r in rows
        if r["url"] in wanted
    }
    run.check(bool(rows) and got == expected, "ner_gp spans vs single-process predict_batch")
    run.check(reference["n"] == len(rows), "ner_gp observed row count")

    observations = {}

    def op(i: int) -> None:
        timed_out, observations[i] = _observed_mentions(docs, cfg)
        timed_out.write.format("noop").mode("overwrite").save()

    def after(i: int) -> None:
        run.check(observations.pop(i).get == reference, f"ner_gp op {i}: output checksum")

    run.timed(op, NER_OPS, after, warmup=NER_WARMUP)

    if run.tracer.sc is not None:
        run.layers.update(kernel_probe(texts, cfg))
        run.layers["mentions.spans"] = len(rows)


# ---------------------------------------------------------------------------
# kg_queries


def _release(run: Run) -> None:
    from entity_extractor_by_pointer_spark.cache import release_all

    with run.tracer.span("cache.release"):
        release_all()
        run.spark.catalog.clearCache()


def kg_queries(run: Run) -> None:
    import __spark_entry__ as entry

    spark = run.spark
    qs = entry.queries()
    order = list(KG_MIX)
    random.Random(run.seed).shuffle(order)

    def build(path: str) -> None:
        with run.tracer.span("sources"):
            generate_sf(KG_SF, path)

    sf_dir = run.materialize(build)
    with run.tracer.span("kg.stores"):
        entry._triples_store(spark, sf_dir)
    expected = expected_hashes(sf_dir, KG_MIX, data_fingerprint(sf_dir))

    # checked pass, which is also the warm-up
    for name in order:
        _release(run)
        try:
            df = qs[name](spark, sf_dir)
            got = value_hash(df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # noqa: BLE001
            got = f"error {type(e).__name__}: {e}"
        run.check(got == expected[name], f"kg_queries {name}")

    def op(i: int) -> None:
        for name in order:
            _release(run)
            with run.tracer.span(f"q.{name}"):
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        run.attempted += len(order)

    run.timed(op, KG_PASSES)


def kg_trace_layers(run: Run, groups: dict) -> None:
    """Per-query and per-module seconds (medians over timed passes), and the
    dedup and graph counts from the event log, per pass."""
    spans = run.tracer.spans
    n = max(1, len(run.op_s))
    for name in KG_MIX:
        times = run.tracer.durations(f"q.{name}")
        run.layers[f"q.{name}_s"] = statistics.median(times) if times else 0.0
    for g in KG_GROUPS:
        run.layers[f"{g}.s"] = sum(run.layers[f"q.{q}_s"] for q, gg in KG_MIX.items() if gg == g)
    below = _descendant_groups(spans)
    in_ops = {j for i, s in enumerate(spans) if s["name"] == "op" for j in below[i]}
    releases = [spans[j]["end"] - spans[j]["start"] for j in in_ops if spans[j]["name"] == "cache.release"]
    run.layers["cache.release_s"] = sum(releases) / n
    dedup = [m for q, g in KG_MIX.items() if g == "dedup" for m in _groups_under(spans, groups, f"q.{q}")]
    run.layers["dedup.exchange_rows"] = sum(m["shuffle_records"] for m in dedup) / n
    run.layers["dedup.join_rows"] = sum(m["join_rows"] for m in dedup) / n
    graph_q = [q for q, g in KG_MIX.items() if g == "graph"]
    graph = [m for q in graph_q for m in _groups_under(spans, groups, f"q.{q}")]
    run.layers["graph.jobs"] = sum(m["jobs"] for m in graph) / (n * len(graph_q))


WORKLOADS = {"ingest": ingest, "ner_gp": ner_gp, "kg_queries": kg_queries}


def per_layer(run: Run, session_s: float, event_log: str) -> dict[str, float]:
    """Every PER_LAYER metric; a layer the workload never calls reads 0."""
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers["session.s"] = session_s
    layers["trace.op_s"] = statistics.median(run.op_s)
    for span, key in (("sources", "sources.s"), ("kg.stores", "kg.stores_s")):
        if run.tracer.durations(span):
            layers[key] = statistics.median(run.tracer.durations(span))
    groups = reduce_event_log(event_log)
    run.spark_layers(groups)
    if any(s["name"].startswith("q.") for s in run.tracer.spans):
        kg_trace_layers(run, groups)
    if "mentions.spans" in run.layers:
        # task time of one mention pass minus the kernel time for its docs
        kernel_s = NER_DOCS / run.layers["model.docs_per_core_s"]
        run.layers["mentions.udf_overhead_s"] = run.layers["ops.task_s"] - kernel_s
    layers.update((k, v) for k, v in run.layers.items() if k in PER_LAYER)
    return layers
