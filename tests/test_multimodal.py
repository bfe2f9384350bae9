"""The multimodal operators (``operators/multimodal.py``): real PCM WAV
audio metadata, pinned on hand-built payloads."""


def test_audio_meta_roundtrip_and_hygiene(spark):
    """Real PCM WAV round-trip: build canonical RIFF files, parse them
    back exactly; malformed payloads (truncated, non-RIFF, NULL,
    zero-rate) flag ok=false with NULL fields instead of raising."""
    from fsharp_data_validation_spark.operators.multimodal import (
        decode_audio_meta,
        make_wav_payload,
    )

    good = make_wav_payload(16000, 2, 16, 160, seed=1)
    rows = [
        (1, good),
        (2, make_wav_payload(44100, 1, 8, 441, seed=2)),
        (3, good[:20]),  # truncated
        (4, b"not a wav at all" + bytes(40)),  # wrong magic
        (5, None),  # NULL payload
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in decode_audio_meta(df).collect()}
    assert got[1]["ok"] and (
        got[1]["sample_rate"], got[1]["channels"], got[1]["bits"], got[1]["n_samples"]
    ) == (16000, 2, 16, 160)
    assert abs(got[1]["duration_s"] - 0.01) < 1e-9
    assert got[2]["ok"] and got[2]["n_samples"] == 441
    assert abs(got[2]["duration_s"] - 0.01) < 1e-9
    for mid in (3, 4, 5):
        assert got[mid]["ok"] is False and got[mid]["sample_rate"] is None
