"""PNG codec + multimodal operators: real byte-level decode/frame-sample
(functions/png.py, operators/multimodal.py)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import types as T

from neotree_data_pipeline_kedro_spark.functions.png import (
    _chunk,
    _SIG,
    decode_png,
    decode_video,
    encode_png,
    encode_video,
)
from neotree_data_pipeline_kedro_spark.operators.multimodal import (
    decode_image,
    sample_video_frames,
)

RNG = np.random.default_rng(7)


def _filtered_png(pixels: np.ndarray, filter_type: int) -> bytes:
    """Build a PNG whose every scanline uses the given filter — the forward
    transform of the spec's recurrences, so decode must invert it exactly."""
    h, w, ch = pixels.shape
    stride = w * ch
    flat = pixels.reshape(h, stride).astype(np.int16)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int16)
    for y in range(h):
        raw = flat[y]
        left = np.concatenate([np.zeros(ch, np.int16), raw[:-ch]])
        ul = np.concatenate([np.zeros(ch, np.int16), prev[:-ch]])
        if filter_type == 0:
            filt = raw
        elif filter_type == 1:
            filt = raw - left
        elif filter_type == 2:
            filt = raw - prev
        elif filter_type == 3:
            filt = raw - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - ul
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            filt = raw - pred
        out.append(filter_type)
        out.extend((filt % 256).astype(np.uint8).tobytes())
        prev = raw
    color_type = {1: 0, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(out)))
        + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("ch", [1, 3, 4])
def test_decode_all_filters(filter_type, ch):
    px = RNG.integers(0, 256, size=(6, 5, ch), dtype=np.uint8)
    assert np.array_equal(decode_png(_filtered_png(px, filter_type)), px)


def test_decode_rejects_junk():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def _image_df(spark, n=20):
    rows = []
    for i in range(n):
        px = np.full((4, 6, 3), i % 251, dtype=np.uint8)
        rows.append((i, bytearray(encode_png(px))))
    rows.append((n, bytearray(b"junk-bytes")))  # must be dropped, not fatal
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("img", T.BinaryType())]
    )
    return spark.createDataFrame(rows, schema)


def test_decode_image_operator(spark):
    out = decode_image(_image_df(spark), "id", "img").orderBy("id").collect()
    assert len(out) == 20  # junk row dropped
    for r in out:
        assert (r["width"], r["height"], r["channels"]) == (6, 4, 3)
        assert r["mean_pixel"] == pytest.approx(r["id"] % 251)
        px = np.frombuffer(bytes(r["pixels"]), dtype=np.uint8)
        assert (px == r["id"] % 251).all()


def test_decode_image_custom_decoder_seam(spark):
    """decode_image(decoder=...) is the native-codec seam: any bytes->array
    callable (PIL/libvips in production) slots into the same mapInPandas
    stage. A doubling decoder must change mean_pixel accordingly."""

    def doubling_decoder(data: bytes):
        # stand-in "native codec": stdlib decode then a visible transform,
        # proving the injected callable (not the default) ran; defined
        # locally so cloudpickle ships it by value to the workers
        from neotree_data_pipeline_kedro_spark.functions.png import decode_png

        px = decode_png(data)
        return (px.astype(np.uint16) * 2 % 256).astype(np.uint8)

    out = (
        decode_image(_image_df(spark), "id", "img", decoder=doubling_decoder)
        .orderBy("id")
        .collect()
    )
    assert len(out) == 20
    for r in out:
        assert r["mean_pixel"] == pytest.approx((r["id"] % 251) * 2 % 256)


def test_sample_video_frames_operator(spark):
    vids = []
    for i in range(3):
        frames = [
            np.full((2, 2, 1), f * 10 + i, dtype=np.uint8) for f in range(10)
        ]
        vids.append((i, bytearray(encode_video(frames, frame_ms=40))))
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("vid", T.BinaryType())]
    )
    df = spark.createDataFrame(vids, schema)
    # every 120 ms over 40 ms frames → every 3rd frame: indices 0,3,6,9
    out = sample_video_frames(df, "id", "vid", 120).orderBy("id", "frame_index")
    rows = out.collect()
    assert [r["frame_index"] for r in rows if r["id"] == 1] == [0, 3, 6, 9]
    r = [r for r in rows if r["id"] == 1 and r["frame_index"] == 3][0]
    assert r["ts_ms"] == 120
    assert (decode_png(bytes(r["frame"])) == 31).all()


def test_wav_roundtrip():
    from neotree_data_pipeline_kedro_spark.functions.png import (
        decode_wav,
        encode_wav,
    )

    s = RNG.integers(-32768, 32767, size=1000, dtype=np.int16)
    rate, back = decode_wav(encode_wav(s, 8000))
    assert rate == 8000
    assert np.array_equal(back, s)
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxJUNK")


def test_decode_audio_operator(spark):
    from neotree_data_pipeline_kedro_spark.functions.png import encode_wav
    from neotree_data_pipeline_kedro_spark.operators.multimodal import decode_audio

    rows = [
        (0, bytearray(encode_wav(np.full(1600, 100, dtype=np.int16), 16000))),
        (1, bytearray(encode_wav(np.full(800, -200, dtype=np.int16), 8000))),
        (2, bytearray(b"not audio")),
    ]
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("wav", T.BinaryType())]
    )
    out = {
        r["id"]: r.asDict()
        for r in decode_audio(spark.createDataFrame(rows, schema), "id", "wav").collect()
    }
    assert set(out) == {0, 1}
    assert out[0]["duration_ms"] == 100 and out[0]["rms"] == pytest.approx(100.0)
    assert out[1]["sample_rate"] == 8000 and out[1]["peak"] == 200


def test_ahash_brightness_invariant_pattern_sensitive(spark):
    import numpy as np

    from neotree_data_pipeline_kedro_spark.functions.png import encode_png
    from neotree_data_pipeline_kedro_spark.operators.multimodal import (
        ahash_image,
    )

    # top-half bright, bottom-half dark: row reversal genuinely flips it
    pattern = np.zeros((8, 8, 1), dtype=np.uint8)
    pattern[:4] = 200
    rows = [
        (1, bytearray(encode_png(pattern))),
        (2, bytearray(encode_png(pattern + 5))),   # uniform brightness shift
        (3, bytearray(encode_png(pattern[::-1]))),  # different pattern
        (4, bytearray(b"not a png")),               # undecodable -> dropped
    ]
    df = spark.createDataFrame(rows, "id long, img binary")
    out = {r.id: r.ahash for r in ahash_image(df, "id", "img").collect()}
    assert set(out) == {1, 2, 3}
    assert out[1] == out[2], "aHash must be exactly brightness-invariant"
    assert out[1] != out[3], "distinct patterns must hash apart"


def test_ahash_downsamples_larger_images(spark):
    import numpy as np

    from neotree_data_pipeline_kedro_spark.functions.png import encode_png
    from neotree_data_pipeline_kedro_spark.operators.multimodal import (
        ahash_image,
    )

    # 16x16 image whose 8x8 nearest-downsample equals the 8x8 original:
    # each 2x2 block repeats one pixel -> identical hash across scales
    base = (np.arange(64).reshape(8, 8) % 2 * 200).astype(np.uint8)
    big = np.kron(base, np.ones((2, 2), dtype=np.uint8))[:, :, None]
    rows = [
        (1, bytearray(encode_png(base[:, :, None]))),
        (2, bytearray(encode_png(big))),
    ]
    df = spark.createDataFrame(rows, "id long, img binary")
    out = {r.id: r.ahash for r in ahash_image(df, "id", "img").collect()}
    assert out[1] == out[2]


def test_afingerprint_gain_invariant_pattern_sensitive(spark):
    import numpy as np

    from neotree_data_pipeline_kedro_spark.functions.png import encode_wav
    from neotree_data_pipeline_kedro_spark.operators.multimodal import (
        afingerprint_audio,
    )

    loud_front = np.repeat(
        np.array([500] * 8 + [50] * 8), 10
    ).astype(np.int16)
    rows = [
        (1, bytearray(encode_wav(loud_front))),
        (2, bytearray(encode_wav((loud_front * 3).astype(np.int16)))),  # gain
        (3, bytearray(encode_wav(loud_front[::-1].copy()))),  # reversed
        (4, bytearray(b"RIFFxxxxJUNK")),  # undecodable -> dropped
    ]
    df = spark.createDataFrame(rows, "id long, clip binary")
    out = {r.id: r.afp for r in afingerprint_audio(df, "id", "clip").collect()}
    assert set(out) == {1, 2, 3}
    assert out[1] == out[2], "fingerprint must be exactly gain-invariant"
    assert out[1] != out[3], "distinct patterns must hash apart"
