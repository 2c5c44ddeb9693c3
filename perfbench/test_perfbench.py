"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

FIXTURE = os.path.join(HERE, "testdata", "eventlog_aqe_extract.jsonl")


# -- input generator -----------------------------------------------------------

def test_make_doc_matches_synth():
    from complete_ocr_spark.synth import make_doc

    for i in range(25):
        doc_id = f"doc-{i:08d}"
        assert inputs.make_doc(doc_id, 7) == make_doc(doc_id, 7)


# -- percentile rule ----------------------------------------------------------

@pytest.mark.parametrize("n, rank", [
    (1000, 990),  # p99: ten samples beyond it
    (100, 90),    # p90
    (20, 10),     # p50 is the highest with ten beyond
    (19, 10),     # too few for any rank above the median: the median
    (3, 2),
    (1, 1),
])
def test_tail_rank(n, rank):
    assert stats.tail_rank(n) == rank


def test_tail_has_ten_samples_beyond():
    values = [float(v) for v in range(1, 1001)]
    value, pct, n = stats.tail(values[::-1])  # order of arrival is irrelevant
    assert (value, pct, n) == (990.0, 99.0, 1000)
    assert sum(v > value for v in values) == stats.TAIL_BEYOND


def test_tail_small_sample_is_median():
    assert stats.tail([3.0, 1.0, 2.0, 10.0]) == (2.5, 50.0, 4)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail_rank(0)


# -- event-log parser ----------------------------------------------------------

def test_parser_stage_totals():
    """A recorded adaptive-execution pair: job 0 runs the explode stage's
    shuffle map side, job 1 lists it again as skipped stage 1 and runs the
    kernel stage 2."""
    log = tracing.parse_event_log([FIXTURE])
    assert sorted(log["jobs"]) == [0, 1]
    assert log["jobs"][1]["stages"] == [1, 2]
    s0, s1, s2 = (log["stages"][i] for i in (0, 1, 2))
    assert (s0["tasks"], s0["run_ms"], s0["shuffle_write_bytes"]) == (3, 4722, 1856)
    assert s0["cpu_ms"] == pytest.approx(189.7, abs=0.05)
    assert s1["tasks"] == 0 and s1["submit_ms"] is None  # skipped
    assert (s2["tasks"], s2["run_ms"], s2["shuffle_write_bytes"]) == (3, 1558, 365)
    assert "MapInPandas" in s2["scopes"] and s2["parents"] == [1]
    assert len(s2["task_ms"]) == 3 and sum(s2["task_ms"]) == s2["run_ms"]


def test_window_totals_and_producers():
    log = tracing.parse_event_log([FIXTURE])
    start = log["jobs"][0]["submit_ms"] / 1000.0
    end = log["jobs"][1]["complete_ms"] / 1000.0
    part = tracing.window(log, start, end)
    t = tracing.totals(part)
    assert (t["jobs"], t["tasks"], t["shuffle_write_bytes"]) == (2, 6, 2221)
    assert t["run_s"] == pytest.approx(6.28)
    kernel = tracing.stages_with(part, "MapInPandas")
    assert kernel == [log["stages"][2]]
    # the skipped parent is matched to the stage that ran it
    assert tracing.producers(part, kernel[0]) == [log["stages"][0]]
    # a window holding only the second job sees no producer that ran
    only_kernel = tracing.window(log, log["jobs"][1]["submit_ms"] / 1000.0, end)
    assert tracing.producers(only_kernel, kernel[0]) == []


def test_parser_skips_a_partly_written_line(tmp_path):
    p = tmp_path / "log"
    p.write_text(open(FIXTURE).read() + '{"Event": "SparkListenerTaskE')
    assert tracing.parse_event_log([str(p)])["stages"][2]["tasks"] == 3


def test_tracer_spans_and_wrap():
    class Box:
        @staticmethod
        def work(x):
            return x + 1

    tr = tracing.Tracer()
    tr.wrap(Box, "work", "box.work")
    with tr.span("outer") as outer:
        assert Box.work(1) == 2
    tr.close()
    assert Box.work(2) == 3  # unwrapped: records no second span
    (inner,) = tr.find("box.work")
    assert inner["parent"] == outer["id"]
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


# -- metric / unit printer -----------------------------------------------------

def test_metric_line():
    line = stats.metric_line("w", "docs_per_s", 12.345678, "1/s", "median of 3")
    assert line.split() == ["w", "docs_per_s", "=", "12.3457", "1/s",
                            "(median", "of", "3)"]


def test_result_line_keeps_every_digit():
    out = json.loads(stats.result_line(
        True, 3, 0, {"setup_s": (8.123456789012, "s")}))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {"setup_s": {"value": 8.123456789012, "unit": "s"}}


def test_result_line_needs_an_attempt():
    with pytest.raises(ValueError):
        stats.result_line(True, 0, 0, {})


def test_per_layer_values_fill_unrun_layers():
    vals = metrics.per_layer_values({"synth.pages": 7})
    assert list(vals) == list(metrics.PER_LAYER)
    assert vals["synth.pages"] == (7.0, "count")
    assert vals["functions.curate_s"] == (0.0, "s")
    with pytest.raises(KeyError):
        metrics.per_layer_values({"no.such_metric": 1})


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} \
        == metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == [(k, v[0], v[1]) for k, v in metrics.PER_LAYER.items()]
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for w in bench["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
