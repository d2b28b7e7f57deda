"""The benchmark's workloads. Each is a closed loop with one client (this
process): an operation starts when the previous one completes.

  bulk_extract        op = pipeline.run_pipeline over the whole corpus
                      (64 buckets, 8 salts, 1 wave: jobs/run_extract.py's
                      defaults)
  incremental_upsert  op = one small batch: merge.merge_upsert into the
                      bucketed input, then run_pipeline over only the
                      affected buckets, read by partition filter
  catalog_mix         op = one __spark_entry__.queries() entry forced with
                      the noop sink, in seed-permuted passes over QUERIES

A workload provides prepare (inputs; untimed), warm (the warm-up that
setup_s times: a first, cold operation), op, check (the correctness gate,
run after the timed ops) and traced (per-layer numbers; trace mode only).
"""

from __future__ import annotations

import math
import os
import random
import sys

from pyspark.sql import functions as F

from . import harness as H
from . import inputs

BUCKETS = 64
SALTS = 8

# One query per non-extraction operator family: classification, HTML,
# dedup (exact, and near-duplicate over a persisted signature artifact),
# text statistics, event sessions and a TPC-H semi-join. None runs the
# extraction pipeline, so the workload bypasses its layers.
QUERIES = (
    "classify_rules", "html_main_content", "exact_dedup", "minhash_lsh",
    "tfidf_top_terms", "sessionize", "tpch_q4",
)


# Per-layer metrics the runner adds on every workload.
COMMON_LAYER_METRICS = (
    "session.build_s", "session.warmup_s", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.failed_tasks", "trace.overhead_share",
    "doc_error_share", "ops_failed_share", "host.peak_rss_mb", "ops.p50_s",
    "jvm.jit_cpu_share",
)
# Self times of the forced prefixes of run_pipeline (_prefix_chain).
PREFIX_METRICS = (
    "sources.scan_s", "pipeline.shuffle_s", "spans.normalize_s",
    "validate.fused_udf_s", "pipeline.commit_s",
)
OUTPUT_METRICS = (
    "pipeline.output_bytes", "pipeline.output_files", "pipeline.write_amp",
)
UPSERT_METRICS = (
    "merge.upsert_s", "merge.affected_bucket_share",
    "merge.rewritten_docs_per_updated_doc", "pipeline.reextract_s",
    "pipeline.reextracted_docs_per_updated_doc",
)


class Context:
    """State of one benchmark run."""

    def __init__(self, seed, work_dir):
        self.seed = seed
        self.work = work_dir
        self.spark = None
        self.tracer = None
        self.op_log: list[dict] = []   # every attempted op, priming included
        self.layers: dict[str, float] = {}
        self.doc_error_share = 0.0

    def path(self, *parts):
        return os.path.join(self.work, *parts)

    def span(self, name):
        return self.tracer.span(name)


# --- shared extraction pieces ---------------------------------------------------

def _prefix_chain(ctx, docs, out_dir, run_id):
    """Traced run_pipeline plus its forced prefixes: scan -> +bucket/salt
    shuffle -> +normalize -> +fused UDF (= extract_documents) -> the full
    run with its partitioned commit. Each layer's self time is the
    difference of consecutive prefixes, so the self times sum to the
    traced run_pipeline's wall time (the last span times the whole run;
    its self time is the commit). Returns (self times, run_pipeline
    seconds, the shuffled frame)."""
    from pdf_extractor_spark.operators.spans import normalize_documents
    from pdf_extractor_spark.pipeline import (
        extract_documents, run_pipeline, with_bucket_and_salt,
    )

    spark = ctx.spark
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    shuffled = with_bucket_and_salt(docs, BUCKETS, SALTS).repartition(
        shuffle_n, "bucket", "salt")
    steps = [
        ("sources.scan", lambda: H.force(docs)),
        ("pipeline.shuffle", lambda: H.force(shuffled)),
        ("spans.normalize", lambda: H.force(normalize_documents(shuffled))),
        ("validate.fused_udf", lambda: H.force(extract_documents(shuffled))),
        ("pipeline.commit", lambda: run_pipeline(
            spark, docs, out_dir, run_id=run_id, num_buckets=BUCKETS,
            salts=SALTS, resume=False)),
    ]
    prefix = {}
    for name, fn in steps:
        with ctx.span(name) as rec:
            fn()
        prefix[name] = ctx.tracer.duration(rec)
    self_s, prev = {}, 0.0
    for name, _ in steps:
        self_s[name + "_s"] = prefix[name] - prev
        prev = prefix[name]
    return self_s, prefix["pipeline.commit"], shuffled


def _timed_median(ctx, **match):
    """Median latency of the timed (untraced) ops whose info matches."""
    return H.median([o["s"] for o in ctx.op_log if o["ok"]
                     and all(o.get(k) == v for k, v in match.items())])


def _partition_skew(shuffled):
    """max / median spans per shuffle partition."""
    rows = (shuffled.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.sum(F.size("spans")).alias("n")).collect())
    sizes = [r.n for r in rows]
    return max(sizes) / H.median(sizes) if sizes else 0.0


def _source_stats(docs, path):
    n = F.size("spans")
    r = docs.agg(F.count("*").alias("docs"), F.sum(n).alias("spans"),
                 F.sum(F.when(n >= 2000, n).otherwise(0)).alias("whale")).first()
    return {
        "sources.docs": r.docs, "sources.spans": r.spans,
        "sources.input_bytes": H.dir_stats(path)[0],
        "sources.whale_span_share": r.whale / r.spans if r.spans else 0.0,
    }


def _validate_stats(extracted):
    r = extracted.agg(
        F.count(F.col("doc_type")).alias("classified"),
        F.sum((F.size("fields") > 0).cast("long")).alias("templated"),
        F.sum((F.col("validation.valid") == F.lit(False)).cast("long"))
        .alias("invalid"),
        F.count(F.col("error")).alias("errors"),
    ).first()
    return {
        "validate.docs_classified": r.classified,
        "validate.docs_templated": r.templated or 0,
        "validate.docs_invalid": r.invalid or 0,
        "validate.error_docs": r.errors,
    }


def _output_stats(out_dir, input_bytes):
    data_b, data_f = H.dir_stats(os.path.join(out_dir, "extracted"))
    met_b, met_f = H.dir_stats(os.path.join(out_dir, "metrics"))
    out_b = data_b + met_b
    return {
        "pipeline.output_bytes": out_b,
        "pipeline.output_files": data_f + met_f,
        "pipeline.write_amp": out_b / input_bytes if input_bytes else 0.0,
    }


def _doc_digest(df):
    """(doc_id, digest) over every output column but doc_id."""
    return df.select("doc_id", F.md5(F.to_json(F.struct(
        "spans", "doc_type", "confidence", "fields", "validation", "meta",
        "error"))).alias("digest"))


def _oracle_mismatches(rows_by_id, docs_by_id):
    """doc_ids whose Spark output differs from oracle.extract on the span
    sequence (kind, text, media_ref, order), doc_type or confidence."""
    from pdf_extractor_spark.config import (
        load_patterns, load_schemas, load_templates,
    )
    from pdf_extractor_spark.oracle.extract import extract_document

    patterns, templates, schemas = load_patterns(), load_templates(), load_schemas()
    bad = []
    for doc_id, spans in docs_by_id.items():
        want = extract_document(doc_id, spans, patterns, templates, schemas)
        got = rows_by_id.get(doc_id)
        if got is None:
            bad.append(doc_id)
            continue
        seq = lambda ss: [(s["kind"], s["text"], s["media_ref"], s["order"])
                          for s in ss]  # noqa: E731
        if (seq(got["spans"]) != seq(want["spans"])
                or got["doc_type"] != want["doc_type"]
                or not math.isclose(got["confidence"], want["confidence"],
                                    rel_tol=1e-12, abs_tol=1e-12)):
            bad.append(doc_id)
    return bad


def _check(name, ok, detail, covers):
    return {"name": name, "ok": bool(ok), "detail": detail, "covers": covers}


class Workload:
    """Defaults: every op stands alone, so any op ends a pass."""

    MIN_OPS = 1

    def pass_done(self):
        return True

    def op_cpu_s(self, ops):
        """CPU seconds of one operation: the median over the timed ops."""
        return H.median([o["cpu_s"] for o in ops])


# --- bulk_extract ---------------------------------------------------------------

class BulkExtract(Workload):
    name = "bulk_extract"
    LAYER_METRICS = PREFIX_METRICS + OUTPUT_METRICS + (
        "sources.docs", "sources.spans", "sources.input_bytes",
        "sources.whale_span_share", "validate.docs_classified",
        "validate.docs_templated", "validate.docs_invalid",
        "validate.error_docs", "pipeline.partition_skew",
        "pipeline.resume_share",
    ) + UPSERT_METRICS
    DOCS = 10_000
    MIN_OPS = 2
    SAMPLE = 24
    SAMPLE_WHALES = 1

    def __init__(self):
        self.upsert = None  # the traced run's upsert batch, checked in check

    def prepare(self, ctx):
        inputs.write_corpus(ctx.path("corpus"), self.DOCS, ctx.seed)

    def warm(self, ctx):
        """A first run of the job: starts the Python UDF workers, compiles
        every stage and grows the JVM heap."""
        self.op(ctx, "warm")

    def op(self, ctx, i):
        from pdf_extractor_spark.pipeline import run_pipeline

        docs = ctx.spark.read.parquet(ctx.path("corpus"))
        run_pipeline(ctx.spark, docs, ctx.path("out"), run_id=f"run-{i}",
                     num_buckets=BUCKETS, salts=SALTS, resume=False)
        return {"run_id": f"run-{i}", "docs": self.DOCS}

    def check(self, ctx):
        spark = ctx.spark
        done = [o for o in ctx.op_log if o["ok"]]
        if not done:
            return [_check("bulk.output", False, "no completed run", 0)]
        run_id = done[-1]["run_id"]
        out = spark.read.parquet(ctx.path("out", "extracted"))
        n_out, n_err = out.agg(F.count("*"), F.count("error")).first()
        n_met = (spark.read.parquet(ctx.path("out", "metrics"))
                 .filter(F.col("run_id") == run_id).count())
        ctx.doc_error_share = n_err / n_out if n_out else 1.0
        checks = [_check(
            "bulk.counts", n_out == self.DOCS and n_met == self.DOCS and n_err == 0,
            f"extracted={n_out} metrics={n_met} errors={n_err} "
            f"corpus={self.DOCS}", len(done))]

        rng = random.Random(f"sample:{ctx.seed}")
        whales = inputs.whale_indices(self.DOCS)
        others = sorted(set(range(self.DOCS)) - set(whales))
        picks = rng.sample(others, self.SAMPLE) + rng.sample(
            whales, min(self.SAMPLE_WHALES, len(whales)))
        from pdf_extractor_spark.sources.corpus import doc_row

        docs = dict(doc_row(i, ctx.seed) for i in picks)
        rows = {r.doc_id: r.asDict(recursive=True) for r in
                out.filter(F.col("doc_id").isin(list(docs))).collect()}
        bad = _oracle_mismatches(rows, docs)
        checks.append(_check("bulk.oracle_sample", not bad,
                             f"{len(docs)} docs, mismatched={bad[:5]}",
                             len(done)))
        if self.upsert is not None:
            # the traced upsert batch: its merge and re-extraction count as
            # one op; the run's doc_error_share stays the bulk output's
            share = ctx.doc_error_share
            checks += self.upsert.check(ctx, covers=1)
            ctx.doc_error_share = share
        return checks

    def traced(self, ctx):
        from pdf_extractor_spark.pipeline import run_pipeline

        spark = ctx.spark
        docs = spark.read.parquet(ctx.path("corpus"))
        with ctx.span("bulk_extract.op"):
            self_s, run_s, shuffled = _prefix_chain(
                ctx, docs, ctx.path("traced_out"), "traced")
        layers = dict(self_s)
        layers["pipeline.partition_skew"] = _partition_skew(shuffled)
        layers.update(_source_stats(docs, ctx.path("corpus")))
        layers.update(_validate_stats(
            spark.read.parquet(ctx.path("traced_out", "extracted"))))
        layers.update(_output_stats(ctx.path("traced_out"),
                                    layers["sources.input_bytes"]))

        # resume: a 2-wave run that crashes after wave 0 and is resumed;
        # the resumed run's time against a fresh run (the untraced op)
        kw = dict(num_buckets=BUCKETS, salts=SALTS, waves=2)
        with ctx.span("pipeline.crash_after_wave0"):
            try:
                run_pipeline(spark, docs, ctx.path("resumed"), run_id="r",
                             resume=False, fail_after_wave=0, **kw)
            except RuntimeError as e:
                if "simulated failure" not in str(e):
                    raise
        with ctx.span("pipeline.resume") as resumed:
            run_pipeline(spark, docs, ctx.path("resumed"), run_id="r",
                         resume=True, **kw)
        fresh_s = _timed_median(ctx)
        layers["pipeline.resume_share"] = ctx.tracer.duration(resumed) / fresh_s
        layers["trace.overhead_share"] = run_s / fresh_s - 1.0

        # one upsert batch into a bucketed layout of the same corpus: the
        # merge layer and the re-extraction of only the affected buckets
        self.upsert = IncrementalUpsert(prefix="upsert_")
        self.upsert.lay_out(ctx, ctx.path("corpus"), self.DOCS)
        layers.update(self.upsert.traced_batch(ctx, decompose=False)[0])
        return layers


# --- incremental_upsert -----------------------------------------------------------

class IncrementalUpsert(Workload):
    """Also used by bulk_extract's traced run (with its own path prefix)
    to measure one batch over the bulk corpus."""

    name = "incremental_upsert"
    LAYER_METRICS = PREFIX_METRICS + OUTPUT_METRICS + UPSERT_METRICS + (
        "pipeline.partition_skew",)
    DOCS = 5_000
    BATCH_DOCS = 16
    MAX_BATCHES = 24
    MIN_OPS = 2

    def __init__(self, prefix=""):
        self.prefix = prefix

    def _p(self, ctx, *parts):
        return ctx.path(self.prefix + parts[0], *parts[1:])

    def prepare(self, ctx):
        inputs.write_corpus(ctx.path("corpus"), self.DOCS, ctx.seed)
        self.lay_out(ctx, ctx.path("corpus"), self.DOCS)

    def lay_out(self, ctx, corpus, n_docs):
        """The corpus as a bucket-partitioned table, and the planned
        batches as parquet files."""
        from pdf_extractor_spark.pipeline import write_bucketed_input

        write_bucketed_input(ctx.spark.read.parquet(corpus),
                             self._p(ctx, "table"), BUCKETS)
        self.n_docs = n_docs
        self.plan = inputs.upsert_plan(ctx.seed, n_docs, self.MAX_BATCHES,
                                       self.BATCH_DOCS)
        for k, batch in enumerate(self.plan):
            inputs.write_rows(self._p(ctx, "batches", f"b{k}"),
                              inputs.batch_rows(batch))
        self.applied = 0      # batches handed to merge_upsert so far
        self.touched = set()  # buckets the maintained output holds

    def warm(self, ctx):
        """A first batch (it stays applied)."""
        self.op(ctx, "warm")

    def _next_batch(self, ctx):
        """merge_upsert the next planned batch into the table; returns
        (batch index, affected buckets)."""
        from pdf_extractor_spark.merge import merge_upsert
        from pdf_extractor_spark.pipeline import bucket_col

        k = self.applied
        if k >= len(self.plan):
            raise RuntimeError("upsert plan exhausted")
        self.applied += 1  # counted before the merge: a failed one may half-apply
        batch = ctx.spark.read.parquet(self._p(ctx, "batches", f"b{k}"))
        affected = sorted(r.b for r in batch.select(
            bucket_col(BUCKETS).alias("b")).distinct().collect())
        self.touched.update(affected)
        merge_upsert(ctx.spark, self._p(ctx, "table"), batch,
                     num_buckets=BUCKETS)
        return k, affected

    def _affected_docs(self, ctx, affected):
        """The merged corpus's affected buckets, read by partition filter."""
        return ctx.spark.read.parquet(self._p(ctx, "table")).filter(
            F.col("bucket").isin(affected))

    def _reextract(self, ctx, docs, k):
        from pdf_extractor_spark.pipeline import run_pipeline

        run_pipeline(ctx.spark, docs, self._p(ctx, "out"), run_id=f"batch-{k}",
                     num_buckets=BUCKETS, salts=SALTS, resume=False)

    def op(self, ctx, i):
        k, affected = self._next_batch(ctx)
        self._reextract(ctx, self._affected_docs(ctx, affected), k)
        return {"batch": k, "affected": len(affected)}

    def check(self, ctx, covers=None):
        """The merged corpus and the maintained output; a failed check
        counts `covers` ops (default: every op of the run)."""
        from pdf_extractor_spark.pipeline import extract_documents

        spark = ctx.spark
        n_ops = len(ctx.op_log) if covers is None else covers
        applied = self.plan[:self.applied]
        inserted = sum(1 for b in applied for i, _ in b if i >= self.n_docs)
        expect = self.n_docs + inserted

        # the merged corpus: every id once, each upserted doc at its last
        # applied content
        table = spark.read.parquet(self._p(ctx, "table"))
        n_tab, n_ids = table.count(), table.select("doc_id").distinct().count()
        last = {}
        for batch in applied:
            for doc_id, spans in inputs.batch_rows(batch):
                last[doc_id] = spans
        got = {r.doc_id: [s.asDict() for s in r.spans] for r in
               table.filter(F.col("doc_id").isin(list(last))).collect()}
        by_offset = lambda ss: sorted(ss or [], key=lambda x: x["offset"])  # noqa: E731
        stale = [d for d, ss in last.items()
                 if by_offset(got.get(d)) != by_offset(ss)]
        checks = [_check("upsert.merged_corpus",
                         n_tab == expect and n_ids == expect and not stale,
                         f"rows={n_tab} ids={n_ids} expected={expect} "
                         f"stale={stale[:5]}", n_ops)]

        # the maintained output holds exactly the buckets the batches
        # touched, each equal to a from-scratch extraction of that bucket
        # of the merged corpus
        scope = self._affected_docs(ctx, sorted(self.touched))
        n_scope = scope.count()
        out = spark.read.parquet(self._p(ctx, "out", "extracted"))
        n_out = out.count()
        n_out_ids = out.select("doc_id").distinct().count()
        n_err = out.filter(F.col("error").isNotNull()).count()
        ctx.doc_error_share = n_err / n_out if n_out else 1.0
        fresh = _doc_digest(extract_documents(scope.drop("bucket")))
        diff = (_doc_digest(out).withColumnRenamed("digest", "a")
                .join(fresh.withColumnRenamed("digest", "b"), "doc_id",
                      "full_outer")
                .filter(~F.col("a").eqNullSafe(F.col("b"))).count())
        checks.append(_check(
            "upsert.equals_from_scratch",
            n_out == n_scope and n_out_ids == n_out and diff == 0 and n_err == 0,
            f"rows={n_out} ids={n_out_ids} expected={n_scope} "
            f"buckets={len(self.touched)} digest_diffs={diff} errors={n_err}",
            n_ops))
        return checks

    def traced(self, ctx):
        layers, op_s = self.traced_batch(ctx, decompose=True)
        layers["trace.overhead_share"] = op_s / _timed_median(ctx) - 1.0
        return layers

    def traced_batch(self, ctx, decompose):
        """One traced batch. With `decompose`, the re-extraction runs as
        _prefix_chain (per-layer self times); otherwise as one span."""
        with ctx.span("incremental_upsert.op"):
            with ctx.span("merge.upsert") as m:
                k, affected = self._next_batch(ctx)
            docs = self._affected_docs(ctx, affected)
            if decompose:
                layers, run_s, shuffled = _prefix_chain(
                    ctx, docs, self._p(ctx, "out"), f"batch-{k}")
                layers["pipeline.partition_skew"] = _partition_skew(shuffled)
            else:
                with ctx.span("pipeline.reextract") as rx:
                    self._reextract(ctx, docs, k)
                layers, run_s = {}, ctx.tracer.duration(rx)
        merge_s = ctx.tracer.duration(m)
        n_docs, n_batch = docs.count(), len(self.plan[k])
        layers.update({
            "merge.upsert_s": merge_s,
            "merge.affected_bucket_share": len(affected) / BUCKETS,
            "merge.rewritten_docs_per_updated_doc": n_docs / n_batch,
            "pipeline.reextract_s": run_s,
            "pipeline.reextracted_docs_per_updated_doc": n_docs / n_batch,
        })
        if decompose:
            # this op rewrote only the affected buckets of the output
            in_b = sum(H.dir_stats(self._p(ctx, "table", f"bucket={b}"))[0]
                       for b in affected)
            out_b = out_f = 0
            for d in ("extracted", "metrics"):
                for b in affected:
                    nb, nf = H.dir_stats(self._p(ctx, "out", d, f"bucket={b}"))
                    out_b, out_f = out_b + nb, out_f + nf
            layers.update({
                "pipeline.output_bytes": out_b,
                "pipeline.output_files": out_f,
                "pipeline.write_amp": out_b / in_b if in_b else 0.0,
            })
        # the traced op: the merge plus the traced run_pipeline (the
        # forced prefixes are tracing's own extra work)
        return layers, merge_s + run_s


# --- catalog_mix ----------------------------------------------------------------

class CatalogMix(Workload):
    name = "catalog_mix"
    MIN_OPS = 2 * len(QUERIES)  # two passes; the loop ends on a whole pass
    LAYER_METRICS = tuple(f"catalog.{q}_{m}" for q in QUERIES
                          for m in ("s", "rows"))

    def prepare(self, ctx):
        self.sf_dir = ctx.path("tables")
        inputs.write_catalog_tables(self.sf_dir, ctx.seed)
        self.order = []
        self.results = {}  # query -> pandas result of its warm-up execution

    def warm(self, ctx):
        """Runs every query once, collecting its result for the correctness
        check (minhash_lsh's first run persists its signature artifact),
        then once more, forced: the JIT is still compiling after one
        pass, and the CPU of the queries falls by about a fifth until
        the third."""
        import __spark_entry__ as entry

        qs = entry.queries()
        for q in QUERIES:
            self.results[q] = qs[q](ctx.spark, self.sf_dir).toPandas()
        for q in QUERIES:
            H.force(qs[q](ctx.spark, self.sf_dir))

    def _next_query(self, ctx):
        if not self.order:
            rng = random.Random(f"catalog:{ctx.seed}:{len(ctx.op_log)}")
            self.order = list(QUERIES)
            rng.shuffle(self.order)
        return self.order.pop()

    def op(self, ctx, i):
        import __spark_entry__ as entry

        q = self._next_query(ctx)
        H.force(entry.queries()[q](ctx.spark, self.sf_dir))
        return {"query": q}

    def pass_done(self):
        return not self.order

    def op_cpu_s(self, ops):
        """CPU seconds of one pass of the list: the sum over QUERIES of
        each query's median, so every query's cost counts."""
        return sum(H.median([o["cpu_s"] for o in ops if o.get("query") == q])
                   for q in QUERIES)

    def check(self, ctx):
        import duckdb

        import __spark_entry__ as entry

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_correctness import canon, kind_mismatches

        qs, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in os.listdir(self.sf_dir):
                con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, t)}'")
            checks = []
            for q in QUERIES:
                covers = sum(1 for o in ctx.op_log if o.get("query") == q)
                sdf = self.results[q]
                odf = con.execute(oracles[q]).df()
                ctx.layers[f"catalog.{q}_rows"] = len(sdf)
                if sorted(sdf.columns) != sorted(odf.columns):
                    detail = f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
                elif len(sdf) != len(odf):
                    detail = f"rows {len(sdf)} vs {len(odf)}"
                elif kind_mismatches(sdf, odf):
                    detail = f"dtype families {kind_mismatches(sdf, odf)}"
                elif canon(sdf) != canon(odf):
                    detail = "values differ"
                else:
                    detail = None
                checks.append(_check(f"catalog.{q}", detail is None,
                                     detail or f"{len(sdf)} rows", covers))
        finally:
            con.close()
        return checks

    def traced(self, ctx):
        import __spark_entry__ as entry

        qs = entry.queries()
        layers = {}
        with ctx.span("catalog_mix.pass") as top:
            for q in QUERIES:
                with ctx.span(f"catalog.{q}") as rec:
                    H.force(qs[q](ctx.spark, self.sf_dir))
                layers[f"catalog.{q}_s"] = ctx.tracer.duration(rec)
        # a pass is each query once: against the per-query untraced medians
        untraced = sum(_timed_median(ctx, query=q) for q in QUERIES)
        layers["trace.overhead_share"] = ctx.tracer.duration(top) / untraced - 1.0
        return layers


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = {w.name: w for w in (BulkExtract, IncrementalUpsert, CatalogMix)}
