"""The workloads: inputs, one closed-loop job, output checks, layers.

Every workload object offers the same calls, driven by ``run.py``:

* ``prepare()`` — make (or reuse) the seeded input; untimed.
* ``setup_warmup(spark)`` — the set-up's warm-up job: one whole job of the
  workload, or for a ``cold`` workload a light read of its input.
* ``job(spark, k)`` — one job into a fresh output root; returns a record
  with its wall time.
* ``check(spark, records)`` — untimed output checks; marks each record ok.
* ``layers(spark, tracer, log)`` — the traced decomposition: times calls
  into each module's public functions, returns per-layer values.

Parameters mirror the program's reference query ``q_training_data`` but are
fixed here, so a change to the query does not change the benchmark.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import inputs
import tracing as tr

# -- curation / training parameters (the q_training_data set)
CURATE_KW = dict(
    languages=("en",), min_quality=0.6, max_dup_line_frac=0.3,
    max_top_bigram_frac=0.1, min_bigram_tokens=20, max_symbol_ratio=0.25,
    max_dup_segment_frac=0.5, seg_win=20, seg_stride=10, max_hamming=3,
    n_blocks=4,
)
TRAINING_KW = dict(
    decon_n=5, mix_tau=0.5, mix_num=1, mix_den=2,
    upsample_bp={"src0": 23_000, "src3": 5_000}, n_merges=16, ctx_len=256,
)
BENCH_MOD = 97  # eval set: docs whose id % 97 equals a seed-picked residue
ORACLE_SAMPLE = 6  # docs per extract job checked against the oracle


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_files(path: str) -> tuple[int, int]:
    """(count, total bytes) of the parquet data files under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Workload:
    name = ""
    unit_docs = 0  # documents one job completes
    min_jobs = 1  # the closed loop runs at least this many timed jobs
    # cold: the timed job is the workload's first on the fresh session, so
    # a run times exactly one job and the set-up does not run the workload
    cold = False
    setup_note = "one set-up on a fresh JVM, one whole warm-up job included"

    def __init__(self, work: str, seed: int, n_cores: int) -> None:
        self.work, self.seed, self.cores = work, seed, n_cores
        self.cache = os.path.join(work, "inputs")
        # per process: two runs in one checkout never share output roots
        self.jobs_root = os.path.join(work, "jobs", f"{self.name}-{os.getpid()}")
        shutil.rmtree(self.jobs_root, ignore_errors=True)
        os.makedirs(self.jobs_root)
        self.path = ""
        self.props: dict = {}

    def setup_warmup(self, spark) -> None:
        """The set-up's warm-up job: one whole job of the workload, so the
        set-up holds the first-use compilation of its plans (the first job
        on a fresh JVM takes about twice as long as the next) and the timed
        jobs run warm."""
        self.job(spark, "setup")
        self.drop_output("setup")

    def out_root(self, k) -> str:
        return os.path.join(self.jobs_root, f"job-{k}")

    def drop_output(self, k) -> None:
        shutil.rmtree(self.out_root(k), ignore_errors=True)

    def close(self) -> None:
        shutil.rmtree(self.jobs_root, ignore_errors=True)


# ---------------------------------------------------------------------------
# extraction: io.run_job end to end
# ---------------------------------------------------------------------------

class ExtractInterleaved(Workload):
    """io.run_job end to end, from an empty root to docs_out + lineage."""

    name = "extract_interleaved"
    unit_docs, n_heavy = 200, 2
    min_jobs = 3

    def prepare(self) -> None:
        self.path, self.props = inputs.interleaved_input(
            self.cache, self.seed, self.unit_docs, self.n_heavy)
        self.docs = inputs.read_docs(self.path)
        rng = random.Random(f"oracle-sample:{self.seed}")
        ids = sorted(self.docs)
        heavy = [d for d in ids if len(self.docs[d]["spans"]) >= 200]
        light = [d for d in ids if len(self.docs[d]["spans"]) < 200]
        self.sample = sorted(rng.sample(heavy, min(1, len(heavy)))
                             + rng.sample(light, ORACLE_SAMPLE - min(1, len(heavy))))
        self.expected = None  # oracle output, computed on first check

    def _frame(self, spark):
        return spark.read.parquet(self.path)

    def job(self, spark, k) -> dict:
        from complete_ocr_spark.io import run_job

        t0 = time.perf_counter()
        res = run_job(spark, self._frame(spark), self.out_root(k))
        return {"k": k, "job_s": time.perf_counter() - t0, "result": res}

    def _oracle(self) -> dict:
        from complete_ocr_spark.oracle import extract_document

        return {d: extract_document(self.docs[d]) for d in self.sample}

    def check(self, spark, records: list[dict]) -> None:
        """Per job: all docs processed, the sampled docs equal the oracle's
        span sequence, and the per-bucket lineage (counts + checksum) equals
        the first good job's."""
        from pyspark.sql import functions as F

        from complete_ocr_spark.io import TableIO

        if self.expected is None:
            self.expected = self._oracle()
        first = None
        for rec in records:
            if not rec.get("ok", True):
                continue
            tio = TableIO(spark, self.out_root(rec["k"]))
            lin = sorted(tuple(r) for r in tio.read_lineage().select(
                "bucket", "doc_count", "span_count", "checksum").collect())
            rows = tio.read_docs_out().filter(
                F.col("doc_id").isin(list(self.sample))).collect()
            got = {r["doc_id"]: [
                {"kind": s["kind"], "text": s["text"],
                 "media_ref": s["media_ref"], "offset": s["offset"]}
                for s in r["spans"]] for r in rows}
            reasons = []
            if rec["result"].get("docs_processed") != self.unit_docs:
                reasons.append(f"processed {rec['result']}")
            if sum(b[1] for b in lin) != self.unit_docs:
                reasons.append("lineage doc count")
            if got != self.expected:
                reasons.append("oracle mismatch")
            if first is None and not reasons:
                first = lin
            elif first is not None and lin != first:
                reasons.append("lineage differs from the first job")
            rec["ok"] = not reasons
            rec["why"] = "; ".join(reasons)
            rec["rows_out"] = sum(b[2] for b in lin)

    def layers(self, spark, tracer: tr.Tracer, log) -> dict:
        """Traced job with wrappers on io/pipeline entry points, then the
        noop-sink differentials and driver-side kernel timings."""
        from complete_ocr_spark import io as cio
        from complete_ocr_spark import pipeline
        from complete_ocr_spark.operators.extract import (
            FLAT_SCHEMA, make_extract_spans_batch)

        tracer.wrap(cio, "run_job", "io.run_job")
        tracer.wrap(cio.TableIO, "write", "io.write")
        tracer.wrap(cio, "lineage_rows", "io.lineage")
        tracer.wrap(pipeline, "run_extraction", "pipeline.run_extraction")
        tracer.job = "traced"
        with tracer.span("job") as job:
            rec = self.job(spark, "traced")
        tracer.job = None
        tracer.close()
        self.check(spark, [rec])
        self.traced_record = rec
        write = tracer.find("io.write", "traced")[-1]
        lineage = tracer.find("io.lineage", "traced")[-1]
        files, size = _parquet_files(self.out_root("traced"))
        out = log.after_job(job, self.cores)
        out.update({
            "io.lineage_s": write["end"] - lineage["start"],
            "io.files_written": files,
            "io.bytes_written": size,
            "operators.rows_in": sum(len(d["spans"]) for d in self.docs.values()),
            "operators.rows_out": rec.get("rows_out", 0),
        })
        part = log.part(job)
        kernel = tr.stages_with(part, "MapInPandas")
        if kernel:
            tasks = sorted(t for s in kernel for t in s["task_ms"])
            med = tasks[len(tasks) // 2] or 1
            out["pipeline.kernel_task_skew"] = tasks[-1] / med
            out["operators.offcore_core_s"] = sum(
                s["run_ms"] - s["cpu_ms"] - s["gc_ms"] for s in kernel) / 1000.0
            # the kernel stage also runs the reassembly's map side: its
            # shuffle output is the reassembly shuffle; the stages it reads
            # from hold the explode + salted repartition
            out["pipeline.reassemble_shuffle_bytes"] = sum(
                s["shuffle_write_bytes"] for s in kernel)
            out["pipeline.explode_shuffle_bytes"] = sum(
                p["shuffle_write_bytes"]
                for s in kernel for p in tr.producers(part, s))
        # docs_out write: the WriteFiles stages that ended before the
        # lineage phase began (the stages before them are the pipeline's)
        out["io.write_s"] = sum(
            (s["complete_ms"] - s["submit_ms"]) / 1000.0
            for s in tr.stages_with(part, "WriteFiles")
            if s["complete_ms"] <= lineage["start"] * 1000.0)

        # noop-sink differentials (same partitioning as extract_flat)
        docs = self._frame(spark)
        n_part = 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
        shuffled = pipeline.explode_spans(docs).repartition(
            n_part, "doc_id", "offset")
        kerneled = shuffled.mapInPandas(make_extract_spans_batch(),
                                        schema=FLAT_SCHEMA)
        with tracer.span("noop.explode") as a:
            _noop(shuffled)
        with tracer.span("noop.extract") as b:
            _noop(kerneled)
        with tracer.span("noop.reassemble") as c:
            _noop(pipeline.run_extraction(spark, docs))
        dur = lambda s: s["end"] - s["start"]  # noqa: E731
        out["operators.extract_stage_s"] = dur(b) - dur(a)
        out["pipeline.reassemble_s"] = dur(c) - dur(b)
        out.update(self._kernel_layers(tracer))
        return out

    def _kernel_layers(self, tracer: tr.Tracer) -> dict:
        """Driver-side timings of the row kernels on this input's own spans
        (a seeded sample of at most 300 pages and 2000 text spans)."""
        from complete_ocr_spark.kernels.page import extract_page_np
        from complete_ocr_spark.kernels.textstrip import strip_blocks
        from complete_ocr_spark.synth import resolve_descriptor

        spans = [s for d in self.docs.values() for s in d["spans"]]
        pages = [s for s in spans if s["kind"] == "media_ref"]
        texts = [s["text"] for s in spans if s["kind"] == "text"]
        rng = random.Random(f"kernel-sample:{self.seed}")
        pages = rng.sample(pages, min(300, len(pages)))
        texts = rng.sample(texts, min(2000, len(texts)))
        out = {"synth.pages": sum(s["kind"] == "media_ref" for s in spans)}
        if pages:
            with tracer.span("synth.resolve_descriptor") as r:
                descs = [resolve_descriptor(s["media_ref"]) for s in pages]
            with tracer.span("kernels.page.extract_page_np") as p:
                outs = [extract_page_np(d, s["offset"], s["media_ref"])
                        for d, s in zip(descs, pages)]
            out["synth.resolve_us_per_page"] = (
                (r["end"] - r["start"]) * 1e6 / len(pages))
            out["kernels.page.us_per_page"] = (
                (p["end"] - p["start"]) * 1e6 / len(pages))
            out["kernels.page.out_spans_per_page"] = (
                sum(map(len, outs)) / len(pages))
        with tracer.span("kernels.textstrip.strip_blocks") as t:
            kept = sum(strip_blocks(x) is not None for x in texts)
        out["kernels.textstrip.us_per_span"] = (
            (t["end"] - t["start"]) * 1e6 / len(texts))
        out["kernels.textstrip.kept_ratio"] = kept / len(texts)
        return out


# ---------------------------------------------------------------------------
# training-data product: prep_io.write_training_data, cold
# ---------------------------------------------------------------------------

class Training(Workload):
    """The timed job is one cold product build: the first on a fresh
    session, as a batch user runs it. Its plans compile on first use (about
    two thirds of the cold build), and warm builds after it keep speeding
    up for several builds, so a warm build right after a cold one sits on a
    steep, run-to-run variable curve; the cold build spreads about half as
    much across runs and needs no warm-up job in the set-up."""

    name = "training_product"
    unit_docs = 500
    cold = True
    setup_note = ("one set-up on a fresh JVM, a read of the input included; "
                  "no product build")

    def prepare(self) -> None:
        self.path, self.props = inputs.documents_input(
            self.cache, self.seed, self.unit_docs)
        self.residue = random.Random(f"eval:{self.seed}").randrange(BENCH_MOD)

    def setup_warmup(self, spark) -> None:
        """Start the executor and its file scan: one count of the input."""
        spark.read.parquet(self.path).count()

    def _frames(self, spark):
        from pyspark.sql import functions as F

        docs = spark.read.parquet(self.path)
        bench = docs.filter(
            F.col("doc_id") % BENCH_MOD == self.residue).select("doc_id", "text")
        return docs, bench

    def job(self, spark, k) -> dict:
        from complete_ocr_spark.prep_io import write_training_data

        t0 = time.perf_counter()
        docs, bench = self._frames(spark)
        res = write_training_data(spark, docs, bench, self.out_root(k),
                                  **CURATE_KW, **TRAINING_KW)
        return {"k": k, "job_s": time.perf_counter() - t0, "result": res}

    def check(self, spark, records: list[dict]) -> None:
        """Per job: one audit row per input doc, and kept + every drop stage
        reconcile to the input count and to the returned stats."""
        from complete_ocr_spark.prep_io import read_training_audit

        for rec in records:
            if not rec.get("ok", True):
                continue
            audit = read_training_audit(spark, self.out_root(rec["k"]))
            rows = audit.groupBy("keep", "stage").count().collect()
            n_ids = audit.select("doc_id").distinct().count()
            n = sum(r["count"] for r in rows)
            kept = sum(r["count"] for r in rows if r["keep"])
            bad = [r for r in rows if r["keep"] != (r["stage"] is None)]
            res = rec["result"]
            reasons = []
            if n != self.unit_docs or n_ids != self.unit_docs:
                reasons.append(f"audit rows {n}, ids {n_ids}")
            if bad:
                reasons.append("keep disagrees with stage")
            if res.get("docs_in") != self.unit_docs or res.get("kept") != kept:
                reasons.append(f"returned {res}, audit kept {kept}")
            rec["ok"] = not reasons
            rec["why"] = "; ".join(reasons)
            rec["kept"] = kept

    def layers(self, spark, tracer: tr.Tracer, log) -> dict:
        """Traced product job, then each functions stage run alone on a
        materialized input (the composition prep_io uses), so each stage's
        time is its own."""
        from pyspark.sql import functions as F

        from complete_ocr_spark import prep_io
        from complete_ocr_spark.functions.bpe import bpe_encode, bpe_train
        from complete_ocr_spark.functions.curate import curate_corpus
        from complete_ocr_spark.functions.dedup import strip_dup_segments
        from complete_ocr_spark.functions.prep import (
            decontaminate, pack_sequences, pii_counts, redact_pii,
            temperature_mix, upsample_domains)

        tracer.wrap(prep_io, "write_training_data",
                    "prep_io.write_training_data")
        tracer.job = "traced"
        with tracer.span("job") as job:
            rec = self.job(spark, "traced")
        tracer.job = None
        tracer.close()
        self.check(spark, [rec])
        self.traced_record = rec
        out = log.after_job(job, self.cores)
        del out["pipeline.idle_frac"]
        out["prep_io.jobs"] = out["spark.jobs"]
        out["prep_io.files_written"] = _parquet_files(
            self.out_root("traced"))[0]
        out["functions.kept_ratio"] = rec.get("kept", 0) / self.unit_docs

        docs, bench = self._frames(spark)
        kw = dict(CURATE_KW)
        win, stride = kw.pop("seg_win"), kw.pop("seg_stride")
        t = TRAINING_KW
        stage = {}

        def run(name, make):
            with tracer.span(f"functions.{name}") as s:
                df = make()
            stage[name] = s["end"] - s["start"]
            return df

        cur = run("curate", lambda: curate_corpus(
            docs, "doc_id", "text", seg_win=win, seg_stride=stride,
            **kw).localCheckpoint())
        kept = cur.filter("keep").select("doc_id", "text")
        stripped = run("strip", lambda: strip_dup_segments(
            kept, "doc_id", "text", win=win, stride=stride).select(
            "doc_id", "text_clean").localCheckpoint())
        contaminated = run("decon", lambda: decontaminate(
            stripped, bench.select("doc_id", F.col("text").alias("text_clean")),
            "doc_id", "text_clean", n=t["decon_n"]).localCheckpoint())
        clean = stripped.join(contaminated.select("doc_id"), "doc_id",
                              "left_anti")
        n_em, n_ip, n_ph = pii_counts(F.col("text_clean"))
        finals = run("redact", lambda: clean.select(
            "doc_id", redact_pii(F.col("text_clean")).alias("text_final"),
            n_em.alias("n_emails"), n_ip.alias("n_ips"),
            n_ph.alias("n_phones")).localCheckpoint())
        domains = docs.select("doc_id", F.col("source").alias("domain"))
        ups = run("upsample", lambda: upsample_domains(
            temperature_mix(finals.join(domains, "doc_id"), "doc_id",
                            "domain", tau=t["mix_tau"],
                            target_num=t["mix_num"], target_den=t["mix_den"])
            .select("doc_id", "domain"),
            "doc_id", "domain", t["upsample_bp"]).localCheckpoint())
        corpus = finals.join(ups.select("doc_id").distinct(), "doc_id")
        merges = run("bpe_train", lambda: bpe_train(
            corpus, "text_final", t["n_merges"]).localCheckpoint())
        enc = run("bpe_encode", lambda: bpe_encode(
            corpus, ["doc_id"], "text_final", merges).localCheckpoint())
        run("pack", lambda: _noop(pack_sequences(
            enc, "doc_id", "n_tokens", ctx_len=t["ctx_len"],
            count_col="n_tokens")))
        for name, secs in stage.items():
            out[f"functions.{name}_s"] = secs
        out["prep_io.self_s"] = (job["end"] - job["start"]) - sum(stage.values())
        return out


WORKLOADS = {w.name: w for w in (ExtractInterleaved, Training)}
