"""Pluggable-model contracts (VERDICT r1 #9): inject fake encode_fn /
decode_fn with non-default shapes through alignment (q44 path) and
multimodal features (q42 path), locking the batch-callable signatures a
real model (sentence-transformer / PIL / torchaudio) must satisfy.

The fakes are defined INSIDE the tests on purpose: closures serialize by
value to executors (a real model plug-in ships the same way — broadcast
or lazily constructed per task), while test-module globals would need
the tests dir on the executor import path.
"""

from __future__ import annotations

import numpy as np
import pytest

from nahuatl_data_pipeline_spark.operators.alignment import align_sentences
from nahuatl_data_pipeline_spark.operators.multimodal import (
    attach_media_metadata,
    extract_features,
)

DIM = 16  # non-default (embed_text default is 64) — proves the plug-in runs


def test_align_sentences_with_injected_encoder(spark):
    lexicon = {
        "perro": 0, "dog": 0,
        "gato": 1, "cat": 1,
        "pájaro": 2, "bird": 2, "ave": 2,
    }

    def fake_encoder(texts):
        # contract: batch's non-null texts as list[str] → (n, dim) array
        assert isinstance(texts, list) and all(
            isinstance(t, str) for t in texts
        )
        out = np.zeros((len(texts), DIM))
        for i, t in enumerate(texts):
            out[i, lexicon[t.lower()]] = 1.0
        return out

    left = spark.createDataFrame(
        [("perro",), ("gato",), (None,)], "nah string"
    )
    right = spark.createDataFrame(
        [("dog",), ("cat",), ("bird",)], "es string"
    )
    got = {
        (r["nah"], r["es"]): r["score"]
        for r in align_sentences(
            left, right, "nah", "es", min_score=0.85,
            dim=DIM, encode_fn=fake_encoder,
        ).collect()
    }
    # concept-matched pairs align at cosine 1.0; the null row is dropped
    # before the encoder ever sees it (contract: no None in the batch —
    # lexicon[None] would KeyError inside the task otherwise)
    assert got == {("perro", "dog"): 1.0, ("gato", "cat"): 1.0}


def test_align_encoder_shape_mismatch_fails_loudly(spark):
    def bad_encoder(texts):
        return np.zeros((len(texts), DIM, 2))  # 3-D: violates (n, dim)

    left = spark.createDataFrame([("perro",)], "nah string")
    right = spark.createDataFrame([("dog",)], "es string")
    with pytest.raises(Exception):
        align_sentences(
            left, right, "nah", "es", dim=DIM, encode_fn=bad_encoder
        ).collect()


def test_extract_features_with_injected_decoder(spark):
    def byte_histogram_decode(payload):
        # contract: bytes|None → fixed-size float vector|None
        if payload is None:
            return None
        h = np.zeros(4)
        for b in payload:
            h[b % 4] += 1.0
        return h / max(1.0, len(payload))

    media = attach_media_metadata(
        spark.createDataFrame(
            [("m1", bytearray(b"\x00\x01\x02\x03" * 4)),
             ("m2", bytearray(b"\x00" * 8)),
             ("m3", None)],
            "media_id string, payload binary",
        ),
        modality="audio",
    )
    rows = {
        r["media_id"]: r
        for r in extract_features(
            media, decode_fn=byte_histogram_decode
        ).collect()
    }
    assert rows["m1"]["feature"] == [0.25, 0.25, 0.25, 0.25]  # dim 4, not 8
    assert rows["m1"]["modality"] == "audio"
    assert rows["m2"]["feature"] == [1.0, 0.0, 0.0, 0.0]
    assert rows["m2"]["n_bytes"] == 8
    assert rows["m3"]["feature"] is None and rows["m3"]["n_bytes"] is None


# ---------------------------------------------------------------------------
# Model-FILE loading (VERDICT r04 #7): committed fixture artifacts prove
# the load→broadcast→batch path, not just injected in-code fallbacks.
# ---------------------------------------------------------------------------

import os

_FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def test_lid_model_file_load_and_score(spark):
    from nahuatl_data_pipeline_spark.functions.langid import (
        detect_language_model,
        load_lid_model,
    )

    path = os.path.join(_FIXTURES, "lid_model.json")
    model = load_lid_model(path)
    assert model.predict(
        ["tlazohcamati nican", "hola gracias", "hello thanks", "zzz", None]
    ) == ["nah", "es", "en", None, None]

    df = spark.createDataFrame(
        [(1, "nican tlazohcamati"), (2, "the hello"), (3, None)],
        "id long, text string",
    )
    got = {
        r["id"]: r["lang"]
        for r in df.select(
            "id", detect_language_model("text", spark, path).alias("lang")
        ).collect()
    }
    assert got == {1: "nah", 2: "en", 3: None}


def test_lid_fasttext_path_is_env_gated(tmp_path):
    """A .bin path must route to the fasttext loader and fail with
    actionable guidance when the library is absent (this container)."""
    from nahuatl_data_pipeline_spark.functions.langid import load_lid_model

    try:
        import fasttext  # noqa: F401
    except ImportError:
        p = tmp_path / "model.bin"
        p.write_bytes(b"\x00")
        with pytest.raises(ImportError, match="fasttext"):
            load_lid_model(str(p))
    else:
        pytest.skip("fasttext installed; gated branch not reachable")
