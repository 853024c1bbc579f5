"""Every example under examples/ runs end-to-end against the sf0.001
testdata — the executable twin of the reference's rigatoni-examples
inventory (each example cites its reference counterpart)."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

from tests.conftest import SF_DIR
EXAMPLES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"
)


@pytest.fixture(autouse=True)
def _examples_on_path():
    sys.path.insert(0, EXAMPLES)
    yield
    sys.path.remove(EXAMPLES)


def _mod(name):
    return importlib.import_module(name)


def test_simple_pipeline(spark, tmp_path):
    out = _mod("simple_pipeline").main(spark, SF_DIR, str(tmp_path))
    assert out["events"] == 1000 and out["keys"]


def test_change_stream_filtering(spark):
    assert _mod("change_stream_filtering").main(spark, SF_DIR) > 0


def test_sink_formats_and_compression(spark, tmp_path):
    counts = _mod("sink_formats_and_compression").main(
        spark, SF_DIR, str(tmp_path)
    )
    assert len(set(counts.values())) == 1  # every stack round-trips alike


def test_database_watching(spark, tmp_path):
    out = _mod("database_watching").main(spark, SF_DIR, str(tmp_path))
    assert out["database"] == 1000
    assert 0 < out["collections"] < 1000  # two of the collections


def test_metrics_prometheus(spark, tmp_path):
    text = _mod("metrics_prometheus").main(spark, SF_DIR, str(tmp_path))
    assert "# TYPE rigatoni_events_processed_total counter" in text
    assert "rigatoni_pipeline_status" in text


def test_resume_from_checkpoint(spark, tmp_path):
    out = _mod("resume_from_checkpoint").main(spark, SF_DIR, str(tmp_path))
    assert out["first"] == 1000 and out["resumed"] == 0


def test_backfill_and_dlq(spark, tmp_path):
    out = _mod("backfill_and_dlq").main(spark, SF_DIR, str(tmp_path))
    assert out["events"] == 1000 and out["dlq"] == 0
    # the poisoned second run parks the whole feed, replay restores it
    assert out["parked"] == 1000
    assert out["replayed"] == 1000 and out["replay_keys"] > 0


def test_training_data_pipeline(spark):
    out = _mod("training_data_pipeline").main(spark, SF_DIR)
    assert 0 < out["clean"] < out["input"]


def test_tokenizer_pipeline(spark):
    out = _mod("tokenizer_pipeline").main(spark, SF_DIR)
    assert out["merges"] == 8
    assert out["tokens"] > 0
    # vocab is bounded: base alphabet + at most one new symbol/merge
    assert out["vocab"] <= 26 + 10 + 8
    assert out["sources_audited"] > 0


def test_quality_gate_training(spark):
    out = _mod("quality_gate_training").main(spark, SF_DIR)
    assert out["pos"] > 0 and out["neg"] > 0
    assert 0 < out["nonzero_buckets"]
    assert 0 < out["kept"] < out["total"]
    # the trained gate must separate the classes it was trained on
    assert out["separates"] is True


def test_lm_perplexity_gate(spark):
    out = _mod("lm_perplexity_gate").main(spark, SF_DIR)
    assert out["total"] == sum(out["bands"].values())
    # the banding must actually split the corpus (mean sits inside the
    # score distribution, so head is non-empty and not everything)
    assert 0 < out["kept"] <= out["total"]
    assert out["bands"].get("head", 0) > 0
    assert out["held_out_docs"] > 0
    assert out["held_out_mean"] >= 0


def test_mirrored_sinks(spark, tmp_path):
    out = _mod("mirrored_sinks").main(spark, SF_DIR, str(tmp_path))
    assert out["events"] > 0
    assert out["raw_keys"] > 0 and out["curated_keys"] > 0
    assert out["curated_rows"] == out["events"]


def test_materialized_view(spark, tmp_path):
    out = _mod("materialized_view").main(spark, SF_DIR, str(tmp_path))
    assert out["live_keys"] > 0
    assert out["collections"]
    # manifest-log publication: at least one immutable commit object
    assert out["manifests"] and all(
        m.startswith("c-") for m in out["manifests"]
    )


def test_low_latency_direct(spark, tmp_path):
    out = _mod("low_latency_direct").main(spark, SF_DIR, str(tmp_path))
    # the production config dedups by document key within each batch,
    # so the processed count is the distinct-key count, not the feed
    assert 0 < out["events"] < 1000 and out["keys"]
    # direct mode wrote final keys only — no staging dir ever existed
    import glob

    assert not glob.glob(str(tmp_path / "out" / "_staging_*"))
