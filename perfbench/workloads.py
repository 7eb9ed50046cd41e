"""The four benchmark workloads.

Each workload generates its input from the seed, caches it in the Spark
session, runs one pass of the program (a closed loop calls ``run_pass``
again only after the previous pass returned), checks the program's
output against an independent reference, and in the traced run probes
its layers.  See README.md for why each workload exists.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import corpus
import gate
from eventlog import LAYER_PROP
from measure import median
from metrics import CURATION_STAGES

SPANS_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32())]))
PAGES_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPANS_TYPE)])

# templated-spans: sf0.1-shaped documents replicated this many times
TEMPLATED_REPLICATION = 8
# text spans per kernel replay sample
REPLAY_SAMPLE = {"templated-spans": 400, "html-pages": 160,
                 "skewed-job": 160}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tag_jobs(spark, layer: str | None) -> None:
    """Tag the jobs this thread submits next (None clears the tag)."""
    spark.sparkContext.setLocalProperty(LAYER_PROP, layer)


class Workload:
    name = ""
    layer = ""          # event-log prefix of the timed jobs

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.input_dir = os.path.join(work, "input")
        self.out_root = os.path.join(work, "out")
        self.df = None
        self._docs: list[dict] | None = None
        self.stats: dict = {}
        self.digest = ""
        self.results: list = []

    # -- set-up -----------------------------------------------------------
    def generate(self) -> None:
        """Write the seeded input under ``input_dir``."""
        raise NotImplementedError

    def build(self, spark) -> None:
        """Read the generated input and cache it; fill ``self.stats``."""
        raise NotImplementedError

    # -- measured ---------------------------------------------------------
    def warm(self, spark) -> None:
        """One untimed pass, so JIT compilation and lazy set-up finish
        before the measured passes; keeps what the gate checks."""
        raise NotImplementedError

    def run_pass(self, spark, i: int) -> None:
        raise NotImplementedError

    def clear_outputs(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.results = []

    # -- checks and probes ------------------------------------------------
    def check(self, spark, passes: int) -> tuple[list[str], int]:
        """(problems, failed operations) for the warm-up pass and the
        ``passes`` measured passes run so far."""
        raise NotImplementedError

    def probes(self, spark, tracer) -> dict:
        """Per-layer measurements beyond the timed passes (traced run)."""
        return {}

    def replay_texts(self) -> list[str]:
        return []


# ---------------------------------------------------------------------------
# extraction over cached interleaved documents


class _DocExtraction(Workload):
    layer = "extract"

    def _stats(self, nested) -> None:
        from pyspark.sql import functions as F

        row = nested.select(
            F.size("spans").alias("n"),
            F.expr("aggregate(spans, 0L, (a, s) -> "
                   "a + coalesce(octet_length(s.text), 0))").alias("b"),
        ).agg(F.count("*").alias("docs"), F.sum("n").alias("spans"),
              F.sum("b").alias("bytes")).collect()[0]
        self.stats = {"docs": int(row["docs"]), "spans": int(row["spans"]),
                      "bytes": int(row["bytes"])}

    def _cache(self, nested) -> None:
        # round-robin: equal doc counts per partition, so a pass measures
        # throughput rather than how evenly a hash spread this seed's docs
        self._docs = None
        self.df = nested.repartition(self.cpus * 2).persist()
        self._stats(self.df)

    def run_pass(self, spark, i: int) -> None:
        from html_qt_spark.operators.extract import extract_spans_doc

        noop(extract_spans_doc(self.df))

    def warm(self, spark) -> None:
        """The warm-up pass collects the operator's output for the gate;
        the measured passes run the same plan into a noop sink."""
        from html_qt_spark.operators.extract import extract_spans_doc

        self.warm_out = extract_spans_doc(self.df).toArrow()

    def input_docs(self) -> list[dict]:
        """The cached input as Python rows (doc_id, spans)."""
        if self._docs is None:
            self._docs = self.df.toArrow().to_pylist()
        return self._docs

    def _text_spans(self, docs) -> list[str]:
        return [s["text"] for d in docs for s in d["spans"]
                if s["kind"] != "media" and s["text"]]

    def reach(self, texts: list[str]) -> list[str]:
        return []

    def check(self, spark, passes):
        from html_qt_spark.operators.extract import QUARANTINE_KIND

        out = self.warm_out
        docs = self.input_docs()
        problems = gate.compare(
            self.name, gate.digest_rows(gate.table_rows(out)),
            gate.reference_digest(docs, workers=self.cpus))
        ids = out.column("doc_id").to_pylist()
        kinds = out.column("kind").to_pylist()
        lost = len({d["doc_id"] for d in docs} - set(ids))
        quarantined = sum(k == QUARANTINE_KIND for k in kinds)
        problems += self.reach(self._text_spans(docs))
        if lost or quarantined:
            problems.append(f"{self.name}: {lost} docs lost, "
                            f"{quarantined} quarantined")
        # output is deterministic: each measured pass repeats the
        # warm-up pass's losses and quarantines
        return problems, (lost + quarantined) * (passes + 1)

    def probes(self, spark, tracer):
        """Noop passes over the cached input isolating the Arrow boundary
        from the kernel (as tools/extract_breakdown.py): a flat
        projection, a passthrough mapInArrow, and the full operator."""
        from pyspark.sql import functions as F

        from html_qt_spark.operators.extract import extract_spans_doc

        flat = self.df.select(
            "doc_id",
            F.col("spans.kind").alias("_kinds"),
            F.col("spans.text").alias("_texts"),
            F.col("spans.media_ref").alias("_refs"),
            F.col("spans.offset").alias("_offsets"))

        def passthrough(batches):
            yield from batches

        plans = {
            "input": flat,
            "passthrough": flat.mapInArrow(
                passthrough,
                schema=("doc_id string, _kinds array<string>, "
                        "_texts array<string>, _refs array<string>, "
                        "_offsets array<int>")),
            "full": extract_spans_doc(self.df),
        }
        times: dict[str, list[float]] = {k: [] for k in plans}
        tag_jobs(spark, "breakdown")
        for rep in range(3):
            for k, df in plans.items():
                with tracer.span(f"extract.breakdown.{k}", pass_id=rep) as s:
                    noop(df)
                times[k].append(s["end"] - s["start"])
        tag_jobs(spark, None)
        med = {k: sorted(v)[1] for k, v in times.items()}
        return {"extract.input_s": med["input"],
                "extract.arrow_roundtrip_s": med["passthrough"] - med["input"],
                "extract.kernel_s": med["full"] - med["passthrough"]}

    def replay_texts(self) -> list[str]:
        texts = self._text_spans(self.input_docs())
        rng = random.Random(f"replay:{self.name}:{self.seed}")
        return rng.sample(texts, min(len(texts), REPLAY_SAMPLE[self.name]))


class TemplatedSpans(_DocExtraction):
    """``extract_spans_doc`` over the ``sources.interleaved`` corpus built
    from sf0.1-shaped documents: every text span takes the batch RE2
    path, the spec parser does no work."""

    name = "templated-spans"

    def generate(self) -> None:
        rows = corpus.documents(self.seed)
        self.digest = corpus.corpus_digest(rows)
        os.makedirs(self.input_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows),
                       os.path.join(self.input_dir, "documents.parquet"))

    def build(self, spark) -> None:
        from html_qt_spark.sources.interleaved import interleaved_nested

        self._cache(interleaved_nested(spark, self.input_dir,
                                       TEMPLATED_REPLICATION))

    def probes(self, spark, tracer):
        """The Arrow-boundary breakdown, plus the curation layers
        (``plans.curation_pipeline`` stage rows, ``operators.dedup``
        pairs and components) over this seed's curation corpus, which
        shares this workload's document generator.  The curation runs go
        through the ``curation-funnel`` gate: one tagged
        ``collect_stats=False`` pass must write the ``written`` count of
        a ``collect_stats=True`` run, and a second ``collect_stats=True``
        run must give the same stage rows."""
        out = super().probes(spark, tracer)
        cf = CurationFunnel(self.seed, os.path.join(self.work, "curation"),
                            self.cpus)
        cf.generate()
        cf.build(spark)
        with tracer.span("curation.stats_run", pass_id="probe"):
            cf.warm(spark)
        tag_jobs(spark, cf.layer)
        with tracer.span("curation.pass", pass_id="probe"):
            cf.run_pass(spark, 0)
        tag_jobs(spark, None)
        problems, _ = cf.check(spark, 1)
        probed = cf.probes(spark, tracer)
        if "problem" in probed:
            problems.append(probed.pop("problem"))
        out.update(probed)
        if problems:
            out["problem"] = "; ".join(problems)
        cf.df.unpersist()
        return out

    def reach(self, texts):
        from html_qt_spark.kernel.trivialbatch import vec_trivial

        accepted = int(vec_trivial(pa.array(texts))[0].sum())
        if accepted != len(texts):
            return [f"{self.name}: reach: trivialbatch accepted {accepted}"
                    f" of {len(texts)} text spans, expected all"]
        return []


class _Pages(_DocExtraction):
    def _write_pages(self, docs) -> None:
        self.digest = corpus.corpus_digest(docs)
        os.makedirs(self.input_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(docs, schema=PAGES_SCHEMA),
                       os.path.join(self.input_dir, "pages.parquet"))

    def build(self, spark) -> None:
        self._cache(spark.read.parquet(
            os.path.join(self.input_dir, "pages.parquet")))


class HtmlPages(_Pages):
    """``extract_spans_doc`` over seeded full pages that no fast path
    accepts: the tokenizer, tree builder and extractor do the work."""

    name = "html-pages"
    max_fast_share = 0.02

    def generate(self) -> None:
        self._write_pages(corpus.html_corpus(self.seed))

    def probes(self, spark, tracer):
        """The Arrow-boundary breakdown, plus ``plans.pipeline`` over this
        seed's ``skewed-job`` corpus (same page generator): its untimed
        warm-up passes, whose first sinks go through the ``skewed-job``
        gate, then one tagged pass for the pipeline metrics."""
        out = super().probes(spark, tracer)
        sj = SkewedJob(self.seed, os.path.join(self.work, "skewed"),
                       self.cpus)
        sj.generate()
        sj.build(spark)
        with tracer.span("pipeline.warm", pass_id="probe"):
            sj.warm(spark)
        tag_jobs(spark, sj.layer)
        with tracer.span("pipeline.pass", pass_id="probe"):
            sj.run_pass(spark, 0)
        tag_jobs(spark, None)
        problems, _ = sj.check(spark, 1)
        out.update(sj.probes(spark, tracer))
        if problems:
            out["problem"] = "; ".join(problems)
        sj.df.unpersist()
        return out

    def reach(self, texts):
        from html_qt_spark.kernel.fastparse import fast_extract
        from html_qt_spark.kernel.trivialbatch import vec_trivial
        from html_qt_spark.kernel.trivialspans import trivial_extract

        counts = {
            "trivialbatch": int(vec_trivial(pa.array(texts))[0].sum()),
            "trivialspans": sum(trivial_extract(t) is not None
                                for t in texts),
            "fastparse": sum(fast_extract(t) is not None for t in texts),
        }
        limit = self.max_fast_share * len(texts)
        return [f"{self.name}: reach: {k} accepted {v} of {len(texts)} "
                f"text spans, expected near 0"
                for k, v in counts.items() if v > limit]


class SkewedJob(_Pages):
    """``plans.pipeline.run_extraction_job`` over heavy-tailed pages with
    multi-MB documents and planted oversize spans, writing its four
    parquet sinks to a fresh directory each pass."""

    name = "skewed-job"
    layer = "pipeline"
    max_fast_share = 0.05
    reach = HtmlPages.reach

    def generate(self) -> None:
        docs, self.planted = corpus.skewed_corpus(self.seed)
        self._write_pages(docs)

    def run_pass(self, spark, i: int) -> None:
        from html_qt_spark.plans.pipeline import run_extraction_job

        out = os.path.join(self.out_root, f"pass-{i}")
        t0 = time.perf_counter()
        res = run_extraction_job(
            spark, self.df, out,
            max_span_bytes=corpus.SKEW_MAX_SPAN_BYTES,
            mega_doc_bytes=corpus.SKEW_MEGA_DOC_BYTES)
        res["pass_s"] = time.perf_counter() - t0
        res["out"] = out
        self.results.append(res)

    def warm(self, spark) -> None:
        """Two untimed passes; the first one's sinks are the ones the gate
        reads.  The JVM is still compiling this job's many stages during
        the pass after the first (about a quarter slower than the passes
        after it), so that one runs untimed too."""
        self.run_pass(spark, -2)
        self.warm_res = self.results.pop()
        self.run_pass(spark, -1)
        self.results.pop()

    def check(self, spark, passes):
        problems: list[str] = []
        failed = 0
        n_docs, n_planted = self.stats["docs"], len(self.planted)
        spans_out = {self.warm_res["spans_out"]}
        for res in [self.warm_res] + self.results:
            lost = n_docs - res["docs_out"]
            failed += max(0, lost) + max(0, res["quarantined"] - n_planted)
            spans_out.add(res["spans_out"])
            if lost or res["quarantined"] != n_planted:
                problems.append(
                    f"{self.name}: pass wrote {res['docs_out']} of {n_docs} "
                    f"docs, {res['quarantined']} quarantined "
                    f"(planted {n_planted})")
        if len(spans_out) > 1:
            problems.append(f"{self.name}: spans_out differs across passes")
        # the spans sink must equal doc-mode output on the same pages:
        # the mega docs took the exploded chunk-split path, every other
        # doc the doc-mode path, and the planted docs are quarantined
        out = self.warm_res["out"]
        sink = spark.read.parquet(os.path.join(out, "spans")).toArrow()
        docs = self.input_docs()
        problems += gate.compare(
            f"{self.name} spans sink vs doc-mode reference",
            gate.digest_rows(gate.table_rows(sink)),
            gate.reference_digest(docs, workers=self.cpus,
                                  skip=frozenset(self.planted)))
        q = spark.read.parquet(os.path.join(out, "quarantine")).collect()
        got_q = sorted((r["doc_id"], r["reason"], r["error_pos"]) for r in q)
        want_q = sorted((d, f"ValueError:oversize-span:{n}", 0)
                        for d, n in self.planted.items())
        if got_q != want_q:
            problems.append(f"{self.name}: quarantine sink {got_q[:3]} != "
                            f"planted oversize spans {want_q[:3]}")
        problems += self.reach(self._text_spans(docs))
        return problems, failed

    def probes(self, spark, tracer):
        res = self.results
        wall = median([r["wall_ms"] for r in res])
        lineage = median([r["pass_s"] - r["wall_ms"] / 1e3 for r in res])
        last = res[-1]
        out_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, files in os.walk(last["out"]) for f in files
            if not f.startswith((".", "_")))
        return {"pipeline.wall_ms": wall, "pipeline.lineage_s": lineage,
                "pipeline.output_bytes": out_bytes,
                "pipeline.docs_out": last["docs_out"],
                "pipeline.spans_out": last["spans_out"],
                "pipeline.quarantined": last["quarantined"]}


# ---------------------------------------------------------------------------
# curation funnel


class CurationFunnel(Workload):
    """``plans.curation_pipeline.run_curation_job`` over sf0.1-shaped
    documents plus seeded near-duplicate and exact-duplicate variants."""

    name = "curation-funnel"
    layer = "dedup"

    def generate(self) -> None:
        rows = corpus.documents(self.seed, corpus.CURATION_DOCS,
                                near_dup_share=0.05, exact_dup_share=0.01)
        self.digest = corpus.corpus_digest(rows)
        os.makedirs(self.input_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows),
                       os.path.join(self.input_dir, "documents.parquet"))

    def build(self, spark) -> None:
        from pyspark.sql import functions as F

        self.df = (spark.read.parquet(
            os.path.join(self.input_dir, "documents.parquet"))
            .select("doc_id", "text", "lang", "source").persist())
        row = self.df.agg(F.count("*").alias("docs"),
                          F.sum(F.octet_length("text")).alias("bytes")
                          ).collect()[0]
        self.stats = {"docs": int(row["docs"]), "spans": 0,
                      "bytes": int(row["bytes"])}

    def _run(self, spark, out: str, collect_stats: bool) -> dict:
        from html_qt_spark.plans.curation_pipeline import run_curation_job

        return run_curation_job(spark, self.df, out,
                                collect_stats=collect_stats)

    def warm(self, spark) -> None:
        """The warm-up pass collects the exact stage rows the measured
        passes are checked against."""
        self.stage_rows = self._run(
            spark, os.path.join(self.out_root, "stats-0"), True)

    def run_pass(self, spark, i: int) -> None:
        out = os.path.join(self.out_root, f"pass-{i}")
        self._run(spark, out, False)
        self.results.append({"out": out})

    def check(self, spark, passes):
        problems = []
        want = self.stage_rows["written"]
        for res in self.results:
            got = spark.read.parquet(os.path.join(res["out"],
                                                  "shards")).count()
            if got != want:
                problems.append(f"{self.name}: pass wrote {got} docs, "
                                f"collect_stats run wrote {want}")
        return problems, 0

    def probes(self, spark, tracer):
        tag_jobs(spark, "curation-stats")
        with tracer.span("curation.stats_run", pass_id="stats"):
            again = self._run(spark, os.path.join(self.out_root, "stats-1"),
                              True)
        out = self.dedup_probes(spark, tracer)
        if again != self.stage_rows:
            out["problem"] = (f"{self.name}: stage rows differ across "
                              f"passes: {self.stage_rows} vs {again}")
        return out

    def dedup_probes(self, spark, tracer) -> dict:
        """Stage rows of the warm-up run, and the dedup operators timed
        on their own over the input: LSH candidate pairs, then star
        connected components over those pairs."""
        from html_qt_spark.operators.dedup import (
            connected_components_star,
            minhash_lsh_pairs,
        )

        out = {f"curation.stage_rows.{st}": self.stage_rows.get(st, 0)
               for st in CURATION_STAGES}
        tag_jobs(spark, "dedup-probe")
        with tracer.span("dedup.lsh_pairs", pass_id="probe") as s:
            pairs = minhash_lsh_pairs(self.df).persist()
            out["dedup.lsh_pairs"] = pairs.count()
        out["dedup.lsh_pairs_s"] = s["end"] - s["start"]
        with tracer.span("dedup.components", pass_id="probe") as s:
            connected_components_star(pairs).count()
        out["dedup.components_s"] = s["end"] - s["start"]
        pairs.unpersist()
        tag_jobs(spark, None)
        return out


WORKLOADS = {w.name: w for w in (TemplatedSpans, HtmlPages, SkewedJob,
                                  CurationFunnel)}
