"""Metric catalogue: every metric the benchmark reports, with its unit, the
direction that is better and — for per-layer metrics — which end-to-end
metric it should move, on which workload. ``BENCHMARK.json`` lists the same
names and units; ``test_perfbench.py`` checks that the two agree.

A per-layer metric of a layer a workload does not run reads 0 on that
workload (no pages are resolved while building training data, for example).
"""

from __future__ import annotations

EXTRACT = ("extract_interleaved",)
TRAINING = ("training_product",)
ALL = EXTRACT + TRAINING

# name -> (unit, better)
END_TO_END = {
    "docs_per_s": ("1/s", "higher"),
    "job_s_tail": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# name -> (unit, better, end-to-end metric it should move, workloads)
PER_LAYER = {
    "config.session_s": ("s", "lower", "setup_s", ALL),
    "synth.pages": ("count", "lower", "docs_per_s", EXTRACT),
    "synth.resolve_us_per_page": ("us", "lower", "docs_per_s",
                                  EXTRACT),
    "kernels.page.us_per_page": ("us", "lower", "docs_per_s",
                                 EXTRACT),
    "kernels.page.out_spans_per_page": ("count", "higher", "docs_per_s",
                                        EXTRACT),
    "kernels.textstrip.us_per_span": ("us", "lower", "docs_per_s",
                                      EXTRACT),
    "kernels.textstrip.kept_ratio": ("ratio", "higher", "docs_per_s",
                                     EXTRACT),
    "operators.extract_stage_s": ("s", "lower", "docs_per_s", EXTRACT),
    "operators.offcore_core_s": ("core-s", "lower", "docs_per_s", EXTRACT),
    "operators.rows_in": ("count", "lower", "docs_per_s", EXTRACT),
    "operators.rows_out": ("count", "higher", "docs_per_s", EXTRACT),
    "pipeline.explode_shuffle_bytes": ("bytes", "lower", "docs_per_s",
                                       EXTRACT),
    "pipeline.reassemble_shuffle_bytes": ("bytes", "lower", "docs_per_s",
                                          EXTRACT),
    "pipeline.reassemble_s": ("s", "lower", "docs_per_s", EXTRACT),
    "pipeline.idle_frac": ("ratio", "lower", "docs_per_s", EXTRACT),
    "pipeline.kernel_task_skew": ("ratio", "lower", "job_s_tail",
                                  EXTRACT),
    "io.write_s": ("s", "lower", "docs_per_s", EXTRACT),
    "io.lineage_s": ("s", "lower", "docs_per_s", EXTRACT),
    "io.files_written": ("count", "lower", "docs_per_s", EXTRACT),
    "io.bytes_written": ("bytes", "lower", "docs_per_s", EXTRACT),
    **{f"functions.{s}_s": ("s", "lower", "docs_per_s", TRAINING)
       for s in ("curate", "strip", "decon", "redact", "upsample",
                 "bpe_train", "bpe_encode", "pack")},
    "functions.kept_ratio": ("ratio", "higher", "docs_per_s",
                             TRAINING),
    "prep_io.self_s": ("s", "lower", "docs_per_s", TRAINING),
    "prep_io.jobs": ("count", "lower", "docs_per_s", TRAINING),
    "prep_io.files_written": ("count", "lower", "docs_per_s",
                              TRAINING),
    "spark.jobs": ("count", "lower", "docs_per_s", ALL),
    "spark.tasks": ("count", "lower", "docs_per_s", ALL),
    "spark.cpu_core_s": ("core-s", "lower", "docs_per_s", ALL),
    "spark.gc_core_s": ("core-s", "lower", "peak_rss_mb", ALL),
    "spark.shuffle_write_bytes": ("bytes", "lower", "docs_per_s", ALL),
    "spark.spill_bytes": ("bytes", "lower", "peak_rss_mb", ALL),
    "spark.scaling_eff_1to4": ("ratio", "higher", "docs_per_s",
                               EXTRACT),
    "trace.overhead_frac": ("ratio", "lower", "none (tracing cost)", ALL),
}


def per_layer_values(measured: dict) -> dict:
    """Every per-layer metric, 0 where this workload did not run the layer."""
    unknown = set(measured) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return {name: (float(measured.get(name, 0.0)), unit)
            for name, (unit, *_rest) in PER_LAYER.items()}
