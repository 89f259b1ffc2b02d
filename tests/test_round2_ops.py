"""Unit tests for the round-2 additions: SCD2 history, anomaly z-scores,
sketch-accuracy gates, GPT-2-style token accounting, oracle-checked
multimodal decode, and the streaming hopping window.

(Oracle hash-parity for each registered query is covered separately by
tests/test_oracle_parity.py; these tests pin the operator semantics on
hand-built inputs where the invariants are visible.)
"""

from __future__ import annotations

import hashlib
from datetime import datetime

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from yaml_pipe_spark.entrypoints import REGISTRY


def _q(name, spark, sf=SF_SMALL):
    return REGISTRY[name].fn(spark, sf)


# ---------------------------------------------------------------- SCD2


def test_scd2_intervals_chain_and_single_current(spark):
    from yaml_pipe_spark.operators.state import scd2_history

    rows = [
        # key 1: A A B A  -> 3 versions
        (1, datetime(2024, 1, 1), 10, "A"),
        (1, datetime(2024, 1, 2), 11, "A"),
        (1, datetime(2024, 1, 3), 12, "B"),
        (1, datetime(2024, 1, 4), 13, "A"),
        # key 2: constant -> 1 version
        (2, datetime(2024, 1, 1), 20, "X"),
        (2, datetime(2024, 2, 1), 21, "X"),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, oid int, attr string")
    hist = scd2_history(df, "k", "ts", "attr", "oid").collect()

    k1 = sorted([r for r in hist if r.k == 1], key=lambda r: r.version)
    assert [r.attr for r in k1] == ["A", "B", "A"]
    # intervals chain: valid_to of version n == valid_from of version n+1
    for a, b in zip(k1, k1[1:]):
        assert a.valid_to == b.valid_from
    assert k1[-1].valid_to is None and k1[-1].is_current
    assert sum(r.is_current for r in k1) == 1

    k2 = [r for r in hist if r.k == 2]
    assert len(k2) == 1 and k2[0].is_current
    assert k2[0].valid_from == datetime(2024, 1, 1)


def test_scd2_no_global_window(spark):
    import contextlib
    import io

    df = _q("rel_scd2_history", spark)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # every Sort/Window must be preceded by a hashpartitioning exchange on
    # the customer key — no single-partition global window anywhere
    assert "Exchange SinglePartition" not in plan


# ------------------------------------------------------- anomaly z-score


def test_anomaly_zscore_flags_injected_spike(spark):
    from yaml_pipe_spark.operators.events import anomaly_zscore

    # 48 calm hourly buckets of 10 events + one spike hour of 40
    rows = []
    for h in range(48):
        for i in range(10):
            rows.append((datetime(2024, 1, 1 + h // 24, h % 24, i), "click"))
    for i in range(10, 50):
        rows.append((datetime(2024, 1, 3, 0, i % 60 // 1), "click"))
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = anomaly_zscore(df, "ts", "event_type", "hour", 2.0).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_buckets == 49
    assert r.n_anomalies >= 1
    assert r.max_abs_z > 2


def test_anomaly_zscore_constant_series_has_no_anomaly(spark):
    from yaml_pipe_spark.operators.events import anomaly_zscore

    rows = [
        (datetime(2024, 1, 1, h, 0), "view") for h in range(24)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    r = anomaly_zscore(df, "ts", "event_type", "hour", 2.0).collect()[0]
    assert r.n_anomalies == 0 and r.max_abs_z == 0.0


# -------------------------------------------------- sketch-accuracy gates


def test_approx_distinct_within_bound(spark):
    out = {
        r.event_type: r
        for r in _q("events_approx_distinct_bounded", spark).collect()
    }
    assert out and all(r.approx_within_4sigma for r in out.values())


def test_approx_quantile_within_bound(spark):
    out = _q("rel_approx_quantile_bounded", spark).collect()
    assert out and all(r.approx_rank_ok for r in out)


# ------------------------------------------------------- token accounting


def test_bpe_pretokenizer_counts_known_string(spark):
    from yaml_pipe_spark.entrypoints.text import _BPE_PAT

    # "Hello world, it's 2024!" ->
    # [Hello][ world][,][ it]['s][ 2024][!]  = 7 tokens
    df = spark.createDataFrame([("Hello world, it's 2024!",)], "text string")
    n = df.select(
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0))).alias(
            "n"
        )
    ).collect()[0].n
    assert n == 7


def test_bpe_token_count_positive_and_chars_ratio_sane(spark):
    rows = _q("text_token_bpe", spark).collect()
    assert rows
    for r in rows:
        assert r.total_tokens > 0
        # natural text lands well inside 1..20 chars per token
        assert 1.0 <= r.chars_per_token <= 20.0


# -------------------------------------------------- multimodal (oracled)


def test_media_decode_matches_hashlib(spark):
    from yaml_pipe_spark.multimodal.binary import (
        extract_features,
        media_from_documents,
    )

    docs = spark.range(12).select(F.col("id").alias("doc_id"))
    feats = {
        r.item_id: r
        for r in extract_features(media_from_documents(docs)).collect()
    }
    for i in range(12):
        payload = (str(i) * (1 + i % 7)).encode()
        dig = hashlib.sha256(payload).digest()
        r = feats[i]
        assert r.n_bytes == len(payload)
        assert r.payload_sha == hashlib.sha256(payload).hexdigest()
        assert r.width == 16 + dig[0] % 240
        assert r.height == 16 + dig[1] % 240
        expected_modality = ["image", "audio", "video"][i % 3]
        assert r.modality == expected_modality
        if expected_modality == "video":
            assert r.n_frames == 1 + dig[2] % 120
        else:
            assert r.n_frames == 1


def test_frame_sample_indices(spark):
    from yaml_pipe_spark.multimodal.binary import (
        extract_features,
        media_from_documents,
        sample_frames,
    )

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    feats = extract_features(media_from_documents(docs))
    frames = sample_frames(feats, every_n=10).collect()
    assert frames
    by_item: dict[int, list[int]] = {}
    for r in frames:
        by_item.setdefault(r.item_id, []).append(r.frame_idx)
    for item, idxs in by_item.items():
        nf = [r.n_frames for r in frames if r.item_id == item][0]
        assert sorted(idxs) == list(range(0, nf, 10))


# ------------------------------------------------------ streaming hopping


def test_stream_hopping_matches_batch_twin(spark):
    from yaml_pipe_spark.operators.events import hopping_agg
    from yaml_pipe_spark.tables import load_table

    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in hopping_agg(load_table(spark, SF_SMALL, "events")).collect()
    }
    stream = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in _q("stream_hopping_agg", spark).collect()
    }
    assert stream == batch


# ---------------------------------------------- recall + LM quality proxy


def test_ann_recall_measured_shape(spark):
    r = _q("ann_recall_measured", spark).collect()[0]
    assert r.n_queries == 40 and r.n_exact == 40 * 5
    assert 0.0 <= r.recall <= 1.0
    assert r.n_hit <= r.n_exact


def test_unigram_logprob_is_negative_and_ordered(spark):
    rows = _q("text_unigram_logprob", spark).collect()
    assert rows
    for r in rows:
        # log-probabilities are strictly negative; min <= avg
        assert r.avg_logprob < 0
        assert r.min_logprob <= r.avg_logprob


def test_scd2_null_attrs_are_versioned_null_safely(spark):
    from yaml_pipe_spark.operators.state import scd2_history

    rows = [
        (1, datetime(2024, 1, 1), 1, None),   # leading NULL run
        (1, datetime(2024, 1, 2), 2, None),   # same NULL run, no bump
        (1, datetime(2024, 1, 3), 3, "A"),
        (1, datetime(2024, 1, 4), 4, None),   # back to NULL: new version
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, oid int, attr string")
    hist = sorted(scd2_history(df, "k", "ts", "attr", "oid").collect(),
                  key=lambda r: r.version)
    assert [r.attr for r in hist] == [None, "A", None]
    assert [r.version for r in hist] == [1, 2, 3]
    assert [r.is_current for r in hist] == [False, False, True]
    for a, b in zip(hist, hist[1:]):
        assert a.valid_to == b.valid_from


def test_incremental_agg_merges_overlapping_keys(spark):
    from yaml_pipe_spark.operators.state import merge_aggregates

    prior = spark.createDataFrame(
        [("click", "2024-01-16", 10, 100.0), ("view", "2024-01-15", 5, 50.0)],
        "event_type string, day string, n_events long, sum_value double",
    )
    delta = spark.createDataFrame(
        [("click", "2024-01-16", 7, 30.5), ("buy", "2024-01-16", 1, 9.5)],
        "event_type string, day string, n_events long, sum_value double",
    )
    out = {
        (r.event_type, r.day): (r.n_events, r.sum_value)
        for r in merge_aggregates(prior, delta, ["event_type", "day"]).collect()
    }
    assert out[("click", "2024-01-16")] == (17, 130.5)  # genuinely merged
    assert out[("view", "2024-01-15")] == (5, 50.0)
    assert out[("buy", "2024-01-16")] == (1, 9.5)
