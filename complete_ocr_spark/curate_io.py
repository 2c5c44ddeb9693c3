"""Curation-integrated output writer (round-5 verdict #5): one pass from a
raw document table to the TRAINING table + the AUDIT table, through the
io.py resumable bucketed-write contract (bucketed dynamic-overwrite writes,
per-bucket lineage, broadcast anti-join resume).

* ``training`` — the kept documents, with their duplicated segments
  STRIPPED (functions.dedup.strip_dup_segments over the kept set): doc_id,
  text_clean, n_kept, n_dropped, bucket. What a tokenizer consumes.
* ``audit``    — EVERY input document with its curation verdict (keep,
  drop_reason, and each gate's measured signal): the judge of any dropped
  doc can see which gate fired and at what value. kept + every drop_reason
  reconciles to the input row count by construction (curate_corpus emits
  exactly one row per input doc).
* ``lineage``  — per-bucket (doc_range, doc_count, token_count, checksum)
  over the training table, the TableIO lineage shape with tokens in place
  of spans.

Resume semantics: curation DECISIONS are global (every dedup tier compares
docs across the whole corpus), so the curate computation always runs over
the FULL input — deterministic, byte-identical across runs (curate_corpus
docstring) — and only the WRITES are pruned to buckets without a lineage
row. A crashed run resumes by rewriting exactly the missing buckets; a
completed run is a no-op. This mirrors run_job: recomputing the decision
plan is the price of global dedup; rewriting finished output is not.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import DEFAULT_N_BUCKETS
from .functions.curate import curate_corpus
from .functions.dedup import strip_dup_chunks, strip_dup_segments
from .io import (
    done_buckets, drop_buckets, geometry_guard, has_parquet, prune_pending,
    require_local, with_bucket, write_buckets, write_lineage,
)

# curate_kwargs that do not change the curation DECISIONS (or cannot be
# fingerprinted): excluded from the persisted geometry so a resume under a
# different scratch path or embedding frame identity is not refused.
# ``embeddings``/``doc_media``/``media``/``media_clusters`` are DataFrames;
# their PRESENCE is recorded as the boolean ``semantic``/``media_tier`` keys
# — the decision-relevant facts — since the frames themselves have no stable
# serialization.
_GEOMETRY_EXCLUDED = ("embeddings", "near_dup_sig_store", "doc_media",
                      "media", "media_clusters", "media_sig_store",
                      "clf_weights")  # identity pinned via the clf fingerprint

AUDIT_COLS = ("lang", "quality", "n_tokens", "dup_line_frac",
              "top_bigram_frac", "sym_ratio", "keep", "drop_reason")


def curated_paths(out_root: str) -> tuple[str, str, str]:
    return (
        os.path.join(out_root, "training"),
        os.path.join(out_root, "audit"),
        os.path.join(out_root, "curated_lineage"),
    )


def curate_geometry(kind: str, n_buckets: int, curate_kwargs: dict,
                    **params) -> dict:
    """The persisted geometry of a curated product (write_curated,
    prep_io.write_training_data): its own decision parameters plus every
    decision-relevant curate_kwarg. JSON round-trip normalizes tuples
    (languages=) to lists so the comparison is representation-stable."""
    clf = curate_kwargs.get("clf_weights")
    return json.loads(json.dumps({
        "kind": kind,
        "n_buckets": n_buckets,
        **params,
        "semantic": curate_kwargs.get("embeddings") is not None,
        "media_tier": curate_kwargs.get("doc_media") is not None,
        # model gate (round 8): pin the weight ARTIFACT's identity, not the
        # list (a 2^20-bucket table would bloat the sidecar unreadable)
        "clf": None if clf is None else {
            "n_buckets": len(clf),
            "fingerprint": hashlib.md5(
                ",".join(str(int(w)) for w in clf).encode()
            ).hexdigest(),
        },
        **{k: v for k, v in sorted(curate_kwargs.items())
           if k not in _GEOMETRY_EXCLUDED},
    }))


def audit_lineage(spark: SparkSession, audit_path: str, texts_path: str,
                  done: DataFrame | None, id_col: str, text_col: str,
                  token_col: str) -> DataFrame:
    """Per-bucket lineage of a curated product, from the files just written
    (this run's buckets only). The audit side drives — every input doc has
    an audit row, so every written bucket gets a lineage row even when it
    kept zero docs; the texts side adds (token_count, checksum) and may
    have written NO files at all (all docs dropped), so it is probed before
    the read-back, which could not infer a schema."""
    lin = drop_buckets(spark.read.parquet(audit_path), done).groupBy(
        "bucket").agg(
        F.min(id_col).alias("doc_range_min"),
        F.max(id_col).alias("doc_range_max"),
        F.count("*").alias("doc_count"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept_count"),
    )
    if not has_parquet(texts_path):
        return lin.withColumn(
            "token_count", F.lit(None).cast("bigint")
        ).withColumn("checksum", F.lit(None).cast("bigint"))
    texts = drop_buckets(spark.read.parquet(texts_path), done)
    return lin.join(
        texts.withColumn("h", F.xxhash64(F.col(id_col), F.col(text_col)))
        .groupBy("bucket")
        .agg(
            F.sum(token_col).alias("token_count"),
            F.expr("bit_xor(h)").alias("checksum"),
        ),
        "bucket", "left",
    )


def write_curated(spark: SparkSession, docs: DataFrame, out_root: str,
                  id_col: str = "doc_id", text_col: str = "text",
                  n_buckets: int = DEFAULT_N_BUCKETS,
                  segment_scheme: str = "stride",
                  seg_win: int = 20, seg_stride: int = 10,
                  cdc_avg_chunk: int = 8, cdc_min_tokens: int = 5,
                  cdc_window_k: int = 3,
                  fail_after_buckets: int | None = None,
                  **curate_kwargs) -> dict:
    """Curate + strip + write (module doc). ``curate_kwargs`` pass through
    to curate_corpus (thresholds, embeddings=...); ``segment_scheme`` picks
    BOTH the coverage detector inside curation and the strip consumer that
    cleans the kept docs' text (stride -> strip_dup_segments, cdc ->
    strip_dup_chunks — the cleaned text always matches the detector the
    drop decision used); ``fail_after_buckets`` simulates a mid-job crash
    for restart tests.

    Returns {'docs_in', 'kept', 'buckets_written', 'skipped'}."""
    out_root = require_local(out_root, "write_curated out_root")
    train_path, audit_path, lin_path = curated_paths(out_root)
    # resume-parameter guard: the lineage probe below prunes writes by bucket
    # id, which is only meaningful if this run's n_buckets / scheme /
    # thresholds match the run that wrote those buckets — a silent mismatch
    # would anti-join new bucket ids against old ones and leave a training
    # table whose partitions were produced under inconsistent parameters.
    geometry_guard(out_root, curate_geometry(
        "curated", n_buckets, curate_kwargs,
        segment_scheme=segment_scheme,
        seg_win=seg_win, seg_stride=seg_stride,
        cdc_avg_chunk=cdc_avg_chunk, cdc_min_tokens=cdc_min_tokens,
        cdc_window_k=cdc_window_k,
    ), "_curated_geometry.json")

    def _bucket(df):
        # io.with_bucket — ONE copy of the bucket rule keeps curated buckets
        # aligned with docs_out buckets forever
        return with_bucket(df, n_buckets, id_col=id_col)

    done = done_buckets(spark, lin_path)
    curated = curate_corpus(
        docs, id_col, text_col,
        segment_scheme=segment_scheme, seg_win=seg_win,
        seg_stride=seg_stride, cdc_avg_chunk=cdc_avg_chunk,
        cdc_min_tokens=cdc_min_tokens, cdc_window_k=cdc_window_k,
        **curate_kwargs
    ).localCheckpoint(eager=False)  # feeds audit AND the kept/strip branch
    kept = curated.filter("keep").select(id_col, text_col)
    if segment_scheme == "cdc":
        stripped = strip_dup_chunks(
            kept, id_col, text_col, avg_chunk=cdc_avg_chunk,
            min_tokens=cdc_min_tokens, window_k=cdc_window_k,
        )
    else:
        stripped = strip_dup_segments(
            kept, id_col, text_col, win=seg_win, stride=seg_stride
        )
    training = _bucket(stripped.withColumnRenamed("doc_id", id_col))
    audit_cols = list(AUDIT_COLS)
    if "dup_media_frac" in curated.columns:  # media tier on: audit its signal
        audit_cols.insert(audit_cols.index("keep"), "dup_media_frac")
    if "model_quality_micros" in curated.columns:  # model tier on: ditto
        audit_cols.insert(audit_cols.index("keep"), "model_quality_micros")
    audit = _bucket(curated.select(id_col, *audit_cols))
    # global decisions, pruned writes: only pending buckets are written
    audit, training = prune_pending([audit, training], done,
                                    fail_after_buckets)
    if audit.isEmpty():
        return {"docs_in": 0, "kept": 0, "buckets_written": 0, "skipped": True}
    for frame, path in ((training, train_path), (audit, audit_path)):
        write_buckets(frame, path, n_buckets)
    rows = write_lineage(spark, audit_lineage(
        spark, audit_path, train_path, done, id_col, "text_clean", "n_kept"
    ), lin_path)
    return {
        "docs_in": sum(r["doc_count"] for r in rows),
        "kept": sum(r["kept_count"] for r in rows),
        "buckets_written": len(rows),
        "skipped": False,
    }


def read_training(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(curated_paths(require_local(out_root, "root"))[0])


def read_audit(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(curated_paths(require_local(out_root, "root"))[1])
