"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata structs;
decode / feature-extract / frame-sample run as Arrow-batched
``mapInPandas`` stages. Image decode and video frame-sampling are
REAL byte-level implementations over the pure-stdlib PNG codec and VID0
frame container in ``functions/png.py`` (PIL/ffmpeg are not in this
container; JPEG/MP4 would slot into the same mapInPandas stages). Audio
feature extraction remains a deterministic byte-histogram stand-in.

At 100 TB: binary payloads dominate partition size — size
``spark.sql.files.maxPartitionBytes`` down (e.g. 32 MB) for media tables,
and keep metadata-only projections (Catalyst prunes the binary column when
the plan never touches it — verify ReadSchema in explain()).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "id bigint, width int, height int, channels int, "
    "mean_pixel double, pixels binary"
)


def default_image_decoder():
    """Resolve the image decoder for this worker: a native codec (PIL) when
    importable, else the pure-stdlib PNG codec. Both return a uint8
    (h, w, ch) array with identical pixel values for PNG input (PNG is
    lossless), so swapping codecs never changes results — only speed. The
    resolution runs on the executor (the callable is pickled by name), so a
    heterogeneous cluster can mix paths safely."""
    try:  # pragma: no cover - PIL absent in this container
        import io

        import numpy as np
        from PIL import Image

        def pil_decode(data: bytes) -> "np.ndarray":
            img = Image.open(io.BytesIO(bytes(data)))
            if img.mode == "P":  # palette: stdlib codec rejects, PIL expands
                img = img.convert("RGB")
            px = np.asarray(img, dtype=np.uint8)
            if px.ndim == 2:  # L mode stays 1-channel, matching the stdlib codec
                px = px[:, :, None]
            return px

        return pil_decode
    except ImportError:
        from ..functions.png import decode_png

        return decode_png


def decode_image(
    df: DataFrame, id_col: str, binary_col: str, decoder=None
) -> DataFrame:
    """Real PNG pixel decode over mapInPandas: (id, width, height, channels,
    mean_pixel, raw pixel bytes row-major). Undecodable payloads are dropped
    (the reference's tolerant-ingest contract: junk rows never kill a run).

    ``decoder`` is the native-codec seam: any ``bytes -> uint8 (h, w, ch)``
    callable (PIL, libvips, turbojpeg bindings) slots into the same
    Arrow-batched stage; ``None`` resolves via ``default_image_decoder``
    per executor (PIL when importable, stdlib codec otherwise)."""
    src = df.select(F.col(id_col).alias("id"), F.col(binary_col).alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = decoder or default_image_decoder()
        for pdf in batches:
            out = {k: [] for k in ("id", "width", "height", "channels", "mean_pixel", "pixels")}
            for i, payload in zip(pdf["id"], pdf["payload"]):
                try:
                    px = dec(payload)
                except Exception:
                    continue
                h, w, ch = px.shape
                out["id"].append(i)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(ch)
                out["mean_pixel"].append(float(px.mean()))
                out["pixels"].append(px.tobytes())
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=DECODED_SCHEMA)


AUDIO_SCHEMA = (
    "id bigint, sample_rate int, n_samples bigint, duration_ms bigint, "
    "rms double, peak int"
)


def decode_audio(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """Real WAV (RIFF/PCM16) decode over mapInPandas: per-clip sample rate,
    duration, RMS, and peak amplitude — the metadata/feature projection a
    training pipeline filters on (silence/clipping gates). Undecodable
    payloads drop, batch survives."""
    import numpy as np

    from ..functions.png import decode_wav

    src = df.select(F.col(id_col).alias("id"), F.col(binary_col).alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "id", "sample_rate", "n_samples", "duration_ms", "rms", "peak"
            )}
            for i, payload in zip(pdf["id"], pdf["payload"]):
                try:
                    rate, samples = decode_wav(payload)
                except Exception:
                    continue
                x = samples.astype(np.float64)
                out["id"].append(i)
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(samples))
                out["duration_ms"].append(len(samples) * 1000 // max(rate, 1))
                out["rms"].append(float(np.sqrt(np.mean(x * x))) if len(x) else 0.0)
                out["peak"].append(int(np.abs(samples).max()) if len(x) else 0)
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=AUDIO_SCHEMA)


def audio_frame_features(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    *,
    frame: int = 40,
    hop: int = 40,
) -> DataFrame:
    """Framed audio features over mapInPandas: decode RIFF/PCM16, slice
    into ``frame``-sample windows every ``hop`` samples (trailing
    partial frame dropped), and emit per-frame energy (Σx² — kept as an
    exact bigint so no sqrt/float enters the contract; RMS is
    sqrt(sum_sq/n) downstream if wanted), peak amplitude, and strict
    sign-change zero crossings — the VAD/silence/clipping feature block.
    The explode happens inside the Arrow batch (one output row per
    frame, never a driver-side clip object); undecodable payloads drop,
    the batch survives."""
    import numpy as np

    from ..functions.png import decode_wav

    src = df.select(F.col(id_col).alias("id"), F.col(binary_col).alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "id", "frame_idx", "n_samples", "sum_sq", "peak",
                "zero_crossings",
            )}
            for i, payload in zip(pdf["id"], pdf["payload"]):
                try:
                    _rate, samples = decode_wav(payload)
                except Exception:
                    continue
                x = samples.astype(np.int64)
                for f_idx in range(0, (len(x) - frame) // hop + 1 if len(x) >= frame else 0):
                    seg = x[f_idx * hop : f_idx * hop + frame]
                    sgn = np.sign(seg)
                    nz = sgn != 0
                    zc = int(np.count_nonzero(np.diff(sgn[nz]) != 0))
                    out["id"].append(i)
                    out["frame_idx"].append(f_idx)
                    out["n_samples"].append(frame)
                    out["sum_sq"].append(int((seg * seg).sum()))
                    out["peak"].append(int(np.abs(seg).max()))
                    out["zero_crossings"].append(zc)
            yield pd.DataFrame(out)

    schema = (
        "id bigint, frame_idx bigint, n_samples bigint, sum_sq bigint,"
        " peak bigint, zero_crossings bigint"
    )
    return src.mapInPandas(run, schema=schema)


def sample_video_frames(
    df: DataFrame, id_col: str, binary_col: str, every_ms: int
) -> DataFrame:
    """Sample one frame per ``every_ms`` from VID0 containers:
    (id, frame_index, ts_ms, frame png binary). One output row per sampled
    frame — the explode happens inside the Arrow batch, so a long video
    never materializes as one driver-side object."""
    from ..functions.png import decode_video

    src = df.select(F.col(id_col).alias("id"), F.col(binary_col).alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("id", "frame_index", "ts_ms", "frame")}
            for i, payload in zip(pdf["id"], pdf["payload"]):
                try:
                    frame_ms, frames = decode_video(payload)
                except Exception:
                    continue
                step = max(1, every_ms // max(frame_ms, 1))
                for idx in range(0, len(frames), step):
                    out["id"].append(i)
                    out["frame_index"].append(idx)
                    out["ts_ms"].append(idx * frame_ms)
                    out["frame"].append(frames[idx])
            yield pd.DataFrame(out)

    return src.mapInPandas(
        run, schema="id bigint, frame_index int, ts_ms bigint, frame binary"
    )


def ahash_image(
    df: DataFrame, id_col: str, binary_col: str, hash_size: int = 8
) -> DataFrame:
    """Perceptual average-hash per image: decode → grayscale → nearest-
    resize to ``hash_size``² → threshold each cell against the mean →
    pack into one signed long (row-major, bit 0 = top-left). aHash is
    EXACTLY invariant to uniform brightness shifts (the mean shifts with
    the pixels, so every comparison is unchanged) and robust to small
    local edits — the standard first-pass image near-dup key: group on it
    for exact perceptual dups, or feed the 64-bit codes to the SimHash
    hamming-band machinery (operators/neardup.py) for near-dup joins.

    Arrow-batched mapInPandas over the same decoder seam as decode_image;
    undecodable payloads drop (tolerant-ingest contract). Output:
    (id, ahash long).
    """
    src = df.select(F.col(id_col).alias("id"), F.col(binary_col).alias("payload"))
    hs = hash_size

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # noqa: PLC0415 — worker-side import

        dec = default_image_decoder()
        weights = (1 << np.arange(hs * hs, dtype=np.uint64))
        for pdf in batches:
            ids, hashes = [], []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                try:
                    px = dec(payload)
                except Exception:
                    continue
                gray = px.astype(np.float64).mean(axis=2)
                h, w = gray.shape
                rows = (np.arange(hs) * h) // hs
                cols = (np.arange(hs) * w) // hs
                small = gray[np.ix_(rows, cols)]
                bits = (small > small.mean()).reshape(-1)
                ids.append(i)
                hashes.append(int((bits * weights).sum()))
            yield pd.DataFrame(
                {"id": ids, "ahash": np.array(hashes, dtype=np.uint64).view(np.int64)}
            )

    return src.mapInPandas(run, schema="id bigint, ahash bigint")


def frame_ahash(
    frames: DataFrame,
    hash_size: int = 8,
) -> DataFrame:
    """Perceptual average-hash per SAMPLED FRAME — ``ahash_image``'s
    kernel applied to ``sample_video_frames`` output while keeping the
    (id, frame_index, ts_ms) lineage the per-image variant drops.
    Same Arrow-batched decode seam; undecodable frames drop.
    Output: (id, frame_index, ts_ms, ahash)."""
    hs = hash_size

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # noqa: PLC0415 — worker-side import

        dec = default_image_decoder()
        weights = 1 << np.arange(hs * hs, dtype=np.uint64)
        for pdf in batches:
            out = {k: [] for k in ("id", "frame_index", "ts_ms", "ahash")}
            for i, fi, ts, payload in zip(
                pdf["id"], pdf["frame_index"], pdf["ts_ms"], pdf["frame"]
            ):
                try:
                    px = dec(payload)
                except Exception:
                    continue
                gray = px.astype(np.float64).mean(axis=2)
                h, w = gray.shape
                rows = (np.arange(hs) * h) // hs
                cols = (np.arange(hs) * w) // hs
                small = gray[np.ix_(rows, cols)]
                bits = (small > small.mean()).reshape(-1)
                out["id"].append(i)
                out["frame_index"].append(fi)
                out["ts_ms"].append(ts)
                out["ahash"].append(int((bits * weights).sum()))
            pdf_out = pd.DataFrame(out)
            if len(pdf_out):
                import numpy as np  # noqa: PLC0415

                pdf_out["ahash"] = (
                    pdf_out["ahash"].to_numpy(dtype=np.uint64).view(np.int64)
                )
            yield pdf_out

    return frames.mapInPandas(
        run, schema="id bigint, frame_index int, ts_ms bigint, ahash bigint"
    )


def shot_boundaries(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    every_ms: int,
    hamming_threshold: int = 8,
) -> DataFrame:
    """Shot/scene boundary detection per video: sample one frame per
    ``every_ms`` (sample_video_frames), perceptual-hash each frame
    (frame_ahash — exactly invariant to uniform brightness drift, so
    exposure wander within a shot never fires), and flag every sampled
    frame whose hash sits >= ``hamming_threshold`` bits from its
    predecessor — the keyframe/segment primitive of video corpus
    construction (dedup per shot, caption per shot, sample training
    frames per shot instead of per raw frame). Scale shape: decode and
    hashing ride Arrow batches; the only shuffle is the per-clip lag
    window, whose partitions are one clip's sampled frames (bounded by
    duration/every_ms). Output: (id, frame_index, ts_ms, hamming) —
    boundary rows only; frame 0 is a shot start by definition and is
    not emitted."""
    from pyspark.sql import Window

    frames = sample_video_frames(df, id_col, binary_col, every_ms)
    hashed = frame_ahash(frames)
    w = Window.partitionBy("id").orderBy("frame_index")
    prev = F.lag("ahash").over(w)
    with_prev = hashed.withColumn("__prev", prev).filter(
        F.col("__prev").isNotNull()
    )
    ham = F.bit_count(
        F.col("ahash").bitwiseXOR(F.col("__prev"))
    ).cast("bigint")
    return (
        with_prev.withColumn("hamming", ham)
        .filter(F.col("hamming") >= hamming_threshold)
        .select("id", "frame_index", "ts_ms", "hamming")
    )


def afingerprint_audio(
    df: DataFrame, id_col: str, binary_col: str, n_segments: int = 16
) -> DataFrame:
    """Perceptual audio fingerprint per clip: decode PCM16 → split into
    ``n_segments`` equal segments → mean absolute amplitude per segment →
    threshold each against the clip's overall mean → pack into one long
    (bit 0 = first segment). The audio sibling of ``ahash_image``:
    exactly invariant to uniform gain (scaling every sample scales the
    segment means AND the clip mean by the same factor, so every
    comparison is unchanged) and robust to small local edits — group on
    it for perceptual dedup, or feed the codes to the hamming-band
    machinery for near-dup joins.

    Arrow-batched mapInPandas; undecodable payloads drop (tolerant-
    ingest contract). Output: (id, afp long).
    """
    from ..functions.png import decode_wav

    src = df.select(F.col(id_col).alias("id"), F.col(binary_col).alias("payload"))
    ns = n_segments

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # noqa: PLC0415 — worker-side import

        weights = 1 << np.arange(ns, dtype=np.uint64)
        for pdf in batches:
            ids, fps = [], []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                try:
                    _, samples = decode_wav(payload)
                except Exception:
                    continue
                if not len(samples):
                    continue
                x = np.abs(samples.astype(np.float64))
                # pad to a multiple of ns so reshape segments evenly; the
                # zero pad only dilutes the LAST segment's mean
                pad = (-len(x)) % ns
                seg = np.pad(x, (0, pad)).reshape(ns, -1).mean(axis=1)
                bits = seg > x.mean()
                ids.append(i)
                fps.append(int((bits * weights).sum()))
            yield pd.DataFrame(
                {"id": ids, "afp": np.array(fps, dtype=np.uint64).view(np.int64)}
            )

    return src.mapInPandas(run, schema="id bigint, afp bigint")


def tile_image_stats(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    *,
    tile: int = 2,
    decoder=None,
) -> DataFrame:
    """ViT-style patch extraction plumbing: decode each image and emit one
    row per ``tile``×``tile`` patch (edge patches smaller) with EXACT
    integer pixel sums — (id, tile_r, tile_c, tile_h, tile_w, px_sum,
    px_n). The patching stage of any vision-transformer preprocessing
    pipeline, with sums instead of float means so the output
    value-hashes across engines and the per-patch normalization stays a
    downstream choice. Arrow-batched mapInPandas over the same
    native-decoder seam as decode_image; undecodable payloads drop
    (tolerant-ingest contract). Partitioning, batch shape, and schema
    are the real 100 TB plumbing; the decoder slots PIL/libvips in
    production."""
    src = df.select(
        F.col(id_col).alias("id"), F.col(binary_col).alias("payload")
    )
    schema = (
        "id bigint, tile_r int, tile_c int, tile_h int, tile_w int, "
        "px_sum bigint, px_n bigint"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec = decoder or default_image_decoder()
        for pdf in batches:
            rows = {k: [] for k in (
                "id", "tile_r", "tile_c", "tile_h", "tile_w", "px_sum",
                "px_n",
            )}
            for i, payload in zip(pdf["id"], pdf["payload"]):
                try:
                    px = dec(payload)
                except Exception:
                    continue
                h, w, _ch = px.shape
                for tr in range((h + tile - 1) // tile):
                    for tc in range((w + tile - 1) // tile):
                        blk = px[
                            tr * tile: min((tr + 1) * tile, h),
                            tc * tile: min((tc + 1) * tile, w),
                            :,
                        ]
                        rows["id"].append(i)
                        rows["tile_r"].append(tr)
                        rows["tile_c"].append(tc)
                        rows["tile_h"].append(blk.shape[0])
                        rows["tile_w"].append(blk.shape[1])
                        rows["px_sum"].append(int(blk.sum(dtype="int64")))
                        rows["px_n"].append(int(blk.size))
            yield pd.DataFrame(rows)

    return src.mapInPandas(run, schema=schema)
