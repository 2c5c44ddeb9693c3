"""Checkpoint-restart: kill after k buckets, rerun, output + lineage identical
to a single-shot run (north_rule idempotent resumability)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from complete_ocr_spark.io import TableIO, run_job


@pytest.fixture()
def out_dirs(tmp_path):
    return str(tmp_path / "single"), str(tmp_path / "resumed")


def _canon(df):
    return {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in df.select("doc_id", "spans").collect()
    }


def test_kill_and_restart_is_idempotent(spark, docs_df, out_dirs):
    single_dir, resumed_dir = out_dirs
    n_buckets = 8

    r0 = run_job(spark, docs_df, single_dir, n_buckets=n_buckets)
    assert r0["docs_processed"] == 120

    # crash after 3 buckets, then resume
    r1 = run_job(spark, docs_df, resumed_dir, n_buckets=n_buckets, fail_after_buckets=3)
    assert 0 < r1["docs_processed"] < 120
    r2 = run_job(spark, docs_df, resumed_dir, n_buckets=n_buckets)
    assert r1["docs_processed"] + r2["docs_processed"] == 120

    single = TableIO(spark, single_dir, n_buckets)
    resumed = TableIO(spark, resumed_dir, n_buckets)
    assert _canon(single.read_docs_out()) == _canon(resumed.read_docs_out())

    # lineage agrees bucket-by-bucket (checksums included)
    cols = ["bucket", "doc_count", "span_count", "checksum"]
    lin_s = {r["bucket"]: r.asDict() for r in single.read_lineage().select(cols).collect()}
    lin_r = {r["bucket"]: r.asDict() for r in resumed.read_lineage().select(cols).collect()}
    assert lin_s == lin_r

    # third run: everything pruned by the lineage anti-join
    r3 = run_job(spark, docs_df, resumed_dir, n_buckets=n_buckets)
    assert r3 == {"docs_processed": 0, "skipped": True}


def test_rerun_of_completed_bucket_is_idempotent(spark, docs_df, tmp_path):
    """Dynamic partition overwrite: re-processing a bucket (e.g. a retried task
    after a partial write) replaces it with identical content."""
    d = str(tmp_path / "twice")
    run_job(spark, docs_df, d, n_buckets=4)
    io = TableIO(spark, d, 4)
    before = _canon(io.read_docs_out())
    # force re-run of everything by ignoring lineage
    from complete_ocr_spark.pipeline import run_extraction

    io.write(run_extraction(spark, docs_df))
    assert _canon(io.read_docs_out()) == before


def test_run_job_resumes_past_a_crash_during_the_lineage_write(
        spark, docs_df, tmp_path):
    """A crash while lineage/ is being written leaves the directory holding
    only _temporary/. That is "no bucket done", not a table to read: the
    rerun processes every doc instead of failing schema inference on every
    attempt."""
    root = tmp_path / "crashed_lineage"
    (root / "lineage" / "_temporary" / "0").mkdir(parents=True)
    r = run_job(spark, docs_df, str(root), n_buckets=4)
    assert r == {"docs_processed": 120, "skipped": False}
    io = TableIO(spark, str(root), 4)
    assert io.read_lineage().agg(F.sum("doc_count")).collect()[0][0] == 120
    assert run_job(spark, docs_df, str(root), n_buckets=4) == {
        "docs_processed": 0, "skipped": True}


def test_run_job_refuses_a_resume_under_other_n_buckets(
        spark, docs_df, tmp_path):
    """Lineage bucket ids only name the same docs under the n_buckets that
    wrote them: resuming a crashed run with another n_buckets must refuse
    before writing anything, not anti-join new bucket ids against old ones
    and silently leave docs out of docs_out."""
    import os

    root = str(tmp_path / "geometry")
    r1 = run_job(spark, docs_df, root, n_buckets=8, fail_after_buckets=3)
    assert 0 < r1["docs_processed"] < 120

    def snapshot():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, files in os.walk(root) for f in files
        }

    before = snapshot()
    with pytest.raises(ValueError, match="geometry mismatch") as err:
        run_job(spark, docs_df, root, n_buckets=4)
    assert "_docs_out_geometry.json" in str(err.value)
    assert "n_buckets stored 8, this run 4" in str(err.value)
    assert snapshot() == before
    # the original geometry still resumes to the full set
    r2 = run_job(spark, docs_df, root, n_buckets=8)
    assert r1["docs_processed"] + r2["docs_processed"] == 120
    assert TableIO(spark, root, 8).read_docs_out().count() == 120


def test_write_curated_resume_and_reconciliation(spark, tmp_path):
    """write_curated (round-5 verdict #5): a crashed run resumes by writing
    exactly the missing buckets; a completed run is a no-op; the audit
    table reconciles — kept + every drop_reason == input rows — and the
    training table is exactly the kept set with cleaned text."""
    from complete_ocr_spark.curate_io import (
        read_audit, read_training, write_curated,
    )

    base = ("the spark engine shuffles partitioned batches of arrow pages "
            "and the reader prunes nested columns in a distributed plan ")
    rows = []
    for i in range(30):
        rows.append((i, f"{base} topic{i} detail{i} " * 3))
    rows += [
        (100, rows[0][1]),            # exact dup of doc 0
        (101, "zzz qqq xxx " * 30),   # lang drop
        (102, None),                  # empty drop
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    root = str(tmp_path / "curated")

    # --- crash after 3 buckets -------------------------------------------
    r1 = write_curated(spark, docs, root, n_buckets=8, fail_after_buckets=3)
    assert not r1["skipped"] and r1["buckets_written"] == 3
    import os

    from complete_ocr_spark.curate_io import curated_paths

    lin1 = spark.read.parquet(curated_paths(root)[2])
    assert lin1.select("bucket").distinct().count() == 3

    # --- rerun completes the remaining buckets only ----------------------
    r2 = write_curated(spark, docs, root, n_buckets=8)
    assert not r2["skipped"]
    audit = read_audit(spark, root)
    assert audit.count() == len(rows)  # every input doc has an audit row

    # --- third run is a no-op --------------------------------------------
    r3 = write_curated(spark, docs, root, n_buckets=8)
    assert r3 == {"docs_in": 0, "kept": 0, "buckets_written": 0,
                  "skipped": True}

    # --- reconciliation: kept + every drop_reason == input ---------------
    by_reason = {
        r["drop_reason"]: r["n"]
        for r in audit.groupBy("drop_reason").agg(F.count("*").alias("n")).collect()
    }
    kept_n = by_reason.pop(None)
    assert kept_n + sum(by_reason.values()) == len(rows)
    assert by_reason.get("empty") == 1
    assert by_reason.get("lang") == 1
    assert "exact_dup" in by_reason or "near_dup" in by_reason

    # training == kept, cleaned text present, lineage totals agree
    training = read_training(spark, root)
    assert training.count() == kept_n
    assert training.filter("text_clean is null").count() == 0
    lin = spark.read.parquet(curated_paths(root)[2])
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == len(rows)
    assert lin.agg(F.sum("kept_count")).collect()[0][0] == kept_n


def test_write_curated_refuses_parameter_drift(spark, tmp_path):
    """The resume probe trusts the lineage table's bucket ids, which is only
    sound if this run's n_buckets / scheme / thresholds match the run that
    wrote them — re-running with different parameters must refuse loudly
    (the dedup-store geometry-guard contract), not silently anti-join new
    bucket ids against old ones (round-6 ADVICE #1). Decision-neutral
    kwargs (a different sig-store scratch path) must NOT refuse."""
    import pytest

    from complete_ocr_spark.curate_io import write_curated

    docs = spark.createDataFrame(
        [(i, "the spark engine shuffles partitioned arrow pages "
             f"in a distributed plan topic{i} " * 3) for i in range(12)],
        "doc_id bigint, text string",
    )
    root = str(tmp_path / "curated_guard")
    r = write_curated(spark, docs, root, n_buckets=4,
                      fail_after_buckets=1, min_quality=0.6)
    assert r["buckets_written"] == 1
    for bad, key in (
        (dict(n_buckets=8), "n_buckets"),                   # bucket rule
        (dict(n_buckets=4, segment_scheme="cdc"), "segment_scheme"),
        (dict(n_buckets=4, seg_win=10), "seg_win"),         # segment geometry
        (dict(n_buckets=4, min_quality=0.9), "min_quality"),  # threshold
    ):
        bad.setdefault("min_quality", 0.6)
        with pytest.raises(ValueError, match="geometry mismatch") as err:
            write_curated(spark, docs, root, **bad)
        # the error names the sidecar and exactly the keys that differ
        msg = str(err.value)
        assert "_curated_geometry.json" in msg
        assert f"{key} stored" in msg
        others = {"n_buckets", "segment_scheme", "seg_win", "min_quality"}
        assert not any(f"{k} stored" in msg for k in others - {key})
    # decision-neutral: a different near-dup scratch path resumes fine
    r2 = write_curated(spark, docs, root, n_buckets=4, min_quality=0.6,
                       near_dup_sig_store=str(tmp_path / "sigs"))
    assert not r2["skipped"] and r2["buckets_written"] >= 1


def test_write_curated_survives_all_dropped_corpus(spark, tmp_path):
    """A corpus where EVERY doc drops writes an audit table + lineage and
    no training rows — the empty-output read-back guard (review fix: the
    training parquet read would fail schema inference)."""
    from complete_ocr_spark.curate_io import read_audit, write_curated

    docs = spark.createDataFrame(
        [(1, None), (2, "zzz qqq xxx " * 30), (3, "   ")],
        "doc_id bigint, text string",
    )
    root = str(tmp_path / "curated_empty")
    r = write_curated(spark, docs, root, n_buckets=4)
    assert not r["skipped"] and r["kept"] == 0 and r["docs_in"] == 3
    audit = read_audit(spark, root)
    assert audit.count() == 3
    assert audit.filter("keep").count() == 0
    # and a rerun is a clean skip
    r2 = write_curated(spark, docs, root, n_buckets=4)
    assert r2["skipped"]


def test_write_curated_semantic_tier_reaches_audit(spark, tmp_path):
    """write_curated(embeddings=...) carries the semantic tier end-to-end:
    an embedding-close, SimHash-far paraphrase pair keeps only the minimum
    id, the audit table records semantic_dup, and the training table holds
    the survivor."""
    from complete_ocr_spark.curate_io import (
        read_audit, read_training, write_curated,
    )

    t1 = ("the spark engine shuffles partitioned batches of arrow pages "
          "and the reader prunes nested columns in a distributed plan " * 3)
    t2 = ("a query optimizer rewrites relational trees into physical "
          "operators while the scheduler assigns tasks to executor slots "
          * 3)
    docs = spark.createDataFrame(
        [(1, t1), (2, t2)], "doc_id bigint, text string"
    )
    base = [1.0, 0.5, -0.25, 2.0, -1.5, 0.75, 0.1, -0.6]
    near = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
    emb = spark.createDataFrame(
        [(1, base), (2, near)], "vec_id bigint, embedding array<double>"
    )
    root = str(tmp_path / "cur_sem")
    r = write_curated(
        spark, docs, root, n_buckets=4,
        embeddings=emb, emb_dim=8, semantic_threshold=0.95,
        sem_bits=4, sem_tables=2,
    )
    assert r["kept"] == 1
    audit = {row["doc_id"]: row["drop_reason"]
             for row in read_audit(spark, root).collect()}
    assert audit == {1: None, 2: "semantic_dup"}
    assert [row["doc_id"] for row in read_training(spark, root).collect()] == [1]
