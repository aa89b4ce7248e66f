"""Unit tests for the multimodal binary-column plumbing (no SQL oracle for
the pandas feature path — verify against direct Python computation)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def test_fake_features_match_python_ground_truth(spark):
    from gcp_map_reduce_spark.operators.multimodal import multimodal_features
    from gcp_map_reduce_spark.sources.tables import load_table

    feats = {
        r["doc_id"]: r for r in multimodal_features(spark, SF_SMALL).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_SMALL, "documents").collect()
    }
    assert set(feats) == set(docs)
    for doc_id, text in list(docs.items())[:25]:
        b = text.encode("utf-8")
        row = feats[doc_id]
        assert row["n_bytes"] == len(b)
        assert row["first_byte"] == (b[0] if b else -1)
        assert row["last_byte"] == (b[-1] if b else -1)
        assert row["byte_sum_mod"] == sum(b) % 997
        assert row["mean_byte"] == pytest.approx(sum(b) / len(b) if b else 0.0)


def test_binary_table_schema(spark):
    from gcp_map_reduce_spark.operators.multimodal import build_binary_table

    bt = build_binary_table(spark, SF_SMALL)
    dt = dict(bt.dtypes)
    assert dt["payload"] == "binary"
    assert dt["meta"].startswith("struct<modality:string,n_bytes:int")


def test_decode_media_dispatches_on_registered_codec():
    from gcp_map_reduce_spark.operators.multimodal import decode_media

    feats = decode_media(b"abc", "text-as-bytes")
    assert feats["n_bytes"] == 3
    assert feats["first_byte"] == ord("a") and feats["last_byte"] == ord("c")
    # no codec libraries in this container: unregistered modalities fail
    # loudly with the known-modality list
    with pytest.raises(KeyError, match="text-as-bytes"):
        decode_media(b"\x89PNG", "image")


def test_registered_codec_round_trips_through_features(spark):
    """A codec registered for a new modality is picked up by the
    multimodal_features pipeline (dispatch happens per row on
    meta.modality inside the Arrow batches)."""
    from pyspark.sql import functions as F

    from gcp_map_reduce_spark.operators.multimodal import (
        CODEC_REGISTRY,
        FEATURE_SCHEMA,
        build_binary_table,
        make_feature_batches,
        register_codec,
    )

    register_codec(
        "upper-text",
        lambda b: {
            "n_bytes": len(b),
            "first_byte": 1,
            "last_byte": 2,
            "byte_sum_mod": 3,
            "mean_byte": 4.0,
        },
    )
    try:
        bt = build_binary_table(spark, SF_SMALL).limit(5).select(
            "doc_id",
            F.lit("upper-text").alias("modality"),
            "payload",
        )
        rows = bt.mapInPandas(
            make_feature_batches(), schema=FEATURE_SCHEMA
        ).collect()
        assert rows and all(
            (r["first_byte"], r["last_byte"], r["byte_sum_mod"]) == (1, 2, 3)
            for r in rows
        )
    finally:
        del CODEC_REGISTRY["upper-text"]
