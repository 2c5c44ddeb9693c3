"""TableIO: checkpoint-restartable writes with per-partition lineage.

The reference's resumability is "skip PDF→image if Images/ non-empty"
(optimized_code/main.py:67-69) and its run metadata is a wall-clock print
(src/pdf_ocr_frcnn_tesseract_ocr.py:219-222). The engine generalizes both per
the north_rule: documents hash into ``bucket = pmod(xxhash64(doc_id), B)``;
``docs_out`` is written partitioned by bucket with *dynamic partition
overwrite* (idempotent — a re-run of a bucket replaces it byte-for-byte);
``lineage`` records (bucket, doc_range, doc_count, span_count, checksum) and a
restart left-anti-joins docs against completed buckets (broadcast — lineage is
tiny) so finished work is pruned at the scan.

Every batch product (``run_job``, ``curate_io.write_curated``,
``prep_io.write_training_data``) runs the same steps from this module: pin
its parameters (``geometry_guard``), find the buckets an earlier run
finished (``done_buckets``), prune its frames to the rest
(``prune_pending``), write each bucketed table (``write_buckets``), then
collect and write the lineage read back from those files
(``write_lineage``). Lineage is written last, so a crash anywhere leaves its
buckets pending.

Locally parquet-backed; on a real cluster the same calls map to
``spark.read/writeTo("iceberg.db.docs_out")`` with identity-partitioning on
bucket (no Iceberg runtime jar in this sandbox — verified /opt/spark/jars).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import DEFAULT_N_BUCKETS


def require_local(path: str, what: str = "output root") -> str:
    """The driver-side file probes behind this module see only the LOCAL
    filesystem: ``has_parquet`` (every resume and read-back decision), the
    ``geometry_guard`` sidecars, and the batch-product contract built on
    them (``done_buckets`` → ``prune_pending`` → ``write_buckets`` →
    ``write_lineage``, used by ``run_job``, ``curate_io`` and ``prep_io``)
    plus the streaming stores' probes. On an ``hdfs://`` / ``s3a://`` root
    they would find nothing and silently report an empty write (skipping
    the lineage row) instead of failing — so non-local URIs are rejected
    loudly here. A cluster deployment swaps these probes for the Hadoop
    FileSystem API (or Iceberg snapshot metadata) at this single choke
    point.

    Returns the bare local path (``file://`` prefix stripped)."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme not in ("", "file"):
        raise ValueError(
            f"{what} {path!r} is not a local path: this build's file probes "
            "are local-FS only (see io.require_local); use a file:// root or "
            "swap the probes for the Hadoop FileSystem API"
        )
    return path[len("file://"):] if path.startswith("file://") else path


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS,
                id_col: str = "doc_id") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(id_col), F.lit(n_buckets)).cast("int")
    )


def has_parquet(path: str) -> bool:
    """True iff ``path`` holds at least one parquet data file. The probe
    every resume/read-back decision must use instead of os.path.exists: a
    crash mid-write leaves the directory present with only _temporary
    droppings, and reading it would fail schema inference forever after."""
    return os.path.exists(path) and any(
        f.endswith(".parquet")
        for _, _, files in os.walk(path)
        for f in files
    )


def geometry_guard(out_root: str, geometry: dict, filename: str) -> None:
    """Persist the parameters an output's keys depend on in the sidecar
    ``out_root/filename`` on first use; refuse to run under DIFFERENT ones.
    Resume and incremental probes match on keys derived from them (bucket
    ids, band keys, fingerprints): matching new keys against keys written
    under other parameters compares incompatible key spaces and silently
    drops documents or un-flags real duplicates.

    One ADDITIVE upgrade is allowed: a dedup store written before cluster
    maintenance existed lacks the 'n_doc_buckets' key; enabling clusters on
    it only adds that key (the banding key space is unchanged), so the
    stored geometry is upgraded in place — the missing cluster log itself
    is then rebuilt by ``dedup_stream._rebuild_cluster_log``.

    ``geometry`` must be JSON-round-trip stable (lists, not tuples) — the
    comparison is against the parsed file."""
    path = os.path.join(out_root, filename)
    if os.path.exists(path):
        try:
            with open(path) as f:
                stored = json.load(f)
        except ValueError:
            stored = None  # crash mid-write left a truncated file: rewrite it
        if stored == geometry:
            return
        if stored is not None:
            absent = "<absent>"
            differ = sorted(
                k for k in set(stored) | set(geometry)
                if stored.get(k, absent) != geometry.get(k, absent)
            )
            if differ != ["n_doc_buckets"] or "n_doc_buckets" in stored:
                raise ValueError(
                    f"geometry mismatch in {path}: " + "; ".join(
                        f"{k} stored {stored.get(k, absent)!r}, this run "
                        f"{geometry.get(k, absent)!r}" for k in differ
                    ) + ". Restore the stored parameters, or write to a new "
                    "root: keys written under other parameters (a changed "
                    "fingerprint included) cannot be matched, so the output "
                    "must be rebuilt"
                )
    os.makedirs(out_root, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(geometry, f)
    os.replace(tmp, path)  # atomic: no truncated file survives a crash


def parallel_actions(*thunks) -> None:
    """Run INDEPENDENT Spark actions concurrently from driver threads
    (optimization guide §2.6: actions are only sequential because driver
    code calls them sequentially; later jobs back-fill executors freed by
    the current job's tail). Each thunk issues one action — typically a
    store write whose job is dominated by task-commit/file latency with
    most executor cores idle, which is exactly when overlap pays.

    ONLY for actions with no read/write dependence on each other's outputs
    (each streaming body documents its grouping at the call site). Spark's
    scheduler handles concurrent jobs natively (FIFO back-fill); any thunk
    exception re-raises here after all threads finish, so a failed write
    still fails the batch."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    errs = [f.exception() for f in futures]
    for e in errs:
        if e is not None:
            raise e


def doc_checksum() -> F.Column:
    """Order-sensitive per-document content hash over the output span sequence."""
    return F.xxhash64(F.col("doc_id"), F.to_json(F.col("spans")))


def lineage_rows(docs_out_bucketed: DataFrame) -> DataFrame:
    """Per-bucket lineage: doc range, counts, xor-combined checksum (order-
    insensitive combine of order-sensitive per-doc hashes)."""
    return (
        docs_out_bucketed.withColumn("doc_hash", doc_checksum())
        .groupBy("bucket")
        .agg(
            F.min("doc_id").alias("doc_range_min"),
            F.max("doc_id").alias("doc_range_max"),
            F.count("*").alias("doc_count"),
            F.sum(F.size("spans")).alias("span_count"),
            F.expr("bit_xor(doc_hash)").alias("checksum"),
        )
    )


def done_buckets(spark: SparkSession, lineage_path: str) -> DataFrame | None:
    """The buckets with a lineage row, or None when there are none. Probes
    with has_parquet: a crash during the lineage write leaves the directory
    holding only _temporary/, which must read as "nothing done", not fail
    schema inference on every rerun."""
    if not has_parquet(lineage_path):
        return None
    return spark.read.parquet(lineage_path).select("bucket").distinct()


def drop_buckets(df: DataFrame, done: DataFrame | None) -> DataFrame:
    """``df`` without the ``done`` buckets (broadcast anti-join — lineage is
    tiny, so finished work is pruned at the scan)."""
    if done is None:
        return df
    return df.join(F.broadcast(done), "bucket", "left_anti")


def prune_pending(frames: list[DataFrame], done: DataFrame | None,
                  fail_after_buckets: int | None) -> list[DataFrame]:
    """Drop the ``done`` buckets from every frame. ``fail_after_buckets``
    simulates a mid-job crash for restart tests: only the first k pending
    buckets of the FIRST frame are kept, in every frame."""
    frames = [drop_buckets(f, done) for f in frames]
    if fail_after_buckets is not None:
        keep = [
            r["bucket"]
            for r in frames[0].select("bucket").distinct()
            .orderBy("bucket").collect()
        ][:fail_after_buckets]
        frames = [f.filter(F.col("bucket").isin(keep)) for f in frames]
    return frames


def _overwrite_buckets(df: DataFrame, path: str) -> None:
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")  # per-write: robust
        .partitionBy("bucket")                        # under cloned sessions
        .parquet(path)
    )


def write_buckets(df: DataFrame, path: str, n_buckets: int) -> None:
    """Idempotent per-bucket write: dynamic partition overwrite replaces
    exactly the buckets ``df`` holds, so a rerun of a bucket replaces it
    byte-for-byte and leaves the others alone."""
    _overwrite_buckets(df.repartition(n_buckets, "bucket"), path)


def write_lineage(spark: SparkSession, lin: DataFrame,
                  lineage_path: str) -> list:
    """Collect the per-bucket lineage (<= n_buckets rows, bounded at any
    scale — run stats come from these rows with no extra action) and write
    it with per-bucket dynamic overwrite, not append: a second write over the
    same root replaces each touched bucket's row instead of stacking
    duplicates with possibly different checksums. Returns the rows."""
    rows = lin.collect()
    if rows:
        _overwrite_buckets(spark.createDataFrame(rows, lin.schema),
                           lineage_path)
    return rows


class TableIO:
    """Parquet-backed local implementation of the Iceberg-shaped sink."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = DEFAULT_N_BUCKETS):
        self.spark = spark
        self.root = require_local(root, "TableIO root")
        self.n_buckets = n_buckets
        self.docs_out_path = os.path.join(self.root, "docs_out")
        self.lineage_path = os.path.join(self.root, "lineage")

    def guard_geometry(self) -> None:
        """Pin n_buckets next to the output: lineage bucket ids only name
        the same documents under the n_buckets that wrote them."""
        geometry_guard(self.root, {"kind": "docs_out",
                                   "n_buckets": self.n_buckets},
                       "_docs_out_geometry.json")

    # --- resume ---------------------------------------------------------
    def completed_buckets(self) -> DataFrame | None:
        return done_buckets(self.spark, self.lineage_path)

    # --- write ----------------------------------------------------------
    def write(self, docs_out: DataFrame,
              exclude_buckets: DataFrame | None = None) -> dict:
        """Idempotent per-bucket overwrite + lineage (write_buckets,
        write_lineage).

        The extraction DAG executes exactly once (the parquet write); lineage
        is then computed from the files just written — one cheap scan of the
        output instead of a second full pipeline execution.

        ``exclude_buckets`` (bucket DataFrame) limits lineage to this run's
        buckets when the output directory already holds completed ones.
        Returns {'doc_count', 'span_count', 'buckets'} for the written set.
        A write that produced no files (empty input) short-circuits before
        the read-back, which could not infer a schema.
        """
        self.guard_geometry()
        write_buckets(with_bucket(docs_out, self.n_buckets),
                      self.docs_out_path, self.n_buckets)
        if not has_parquet(self.docs_out_path):
            return {"doc_count": 0, "span_count": 0, "buckets": 0}
        back = drop_buckets(self.read_docs_out(), exclude_buckets)
        rows = write_lineage(self.spark, lineage_rows(back), self.lineage_path)
        return {
            "doc_count": sum(r["doc_count"] for r in rows),
            "span_count": sum(r["span_count"] for r in rows),
            "buckets": len(rows),
        }

    # --- read -----------------------------------------------------------
    def read_docs_out(self) -> DataFrame:
        return self.spark.read.parquet(self.docs_out_path)

    def read_lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path)


def run_job(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    fail_after_buckets: int | None = None,
) -> dict:
    """End-to-end resumable job: prune completed buckets, extract, write.

    ``fail_after_buckets`` simulates a mid-job crash for the restart test: only
    the first k pending buckets are processed this run.
    """
    from .pipeline import run_extraction

    io = TableIO(spark, out_root, n_buckets)
    io.guard_geometry()
    done = io.completed_buckets()
    (pending,) = prune_pending([with_bucket(docs, n_buckets)], done,
                               fail_after_buckets)
    # limit-1 emptiness probe, not a full count — a complete pre-pass over the
    # pruned scan at 100 TB just to report a number is an avoidable job; the
    # real doc count comes from the written lineage below.
    if pending.isEmpty():
        return {"docs_processed": 0, "skipped": True}
    docs_out = run_extraction(spark, pending.drop("bucket"))
    stats = io.write(docs_out, exclude_buckets=done)
    return {"docs_processed": stats["doc_count"], "skipped": False}
