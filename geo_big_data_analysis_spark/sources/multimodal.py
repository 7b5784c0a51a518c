"""Multimodal columns: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries images/audio/video as opaque
``binary`` columns with typed metadata, decoding only inside Arrow
batches. This module implements that plumbing for real — schema
convention, per-item kernels, deterministic feature extraction.
The IMAGE path is real for PNG (incl. Adam7), baseline JPEG, BMP, and
lossless WebP/VP8L (`sources/png.py` / `jpeg.py` / `bmp.py` /
`webp.py`); AUDIO is real for
PCM/float/G.711 WAV and compressed FLAC (`sources/wav.py` /
`flac.py`); VIDEO is real at the pixel level for animated GIF
(`sources/gif.py`) AND for MJPEG-in-MP4 (sample slicing via
`sources/mp4.py` composed with the baseline-JPEG decoder in
`sources/jpeg.py`) AND for Annex-B H.264 streams of I_PCM
macroblocks (`sources/h264.py`), and at the container level for every
MP4 — sample-table parse + re-mux, the layer a curation job actually
touches. MP3 streams get a real frame-header walk (`sources/mp3.py`,
duration/bitrate metadata without audio decode). ``resize_image``
does a true decode→resample→re-encode round-trip. Codec *pixel*
decode beyond these (entropy-coded H.264 slices, lossy WebP, MP3
audio…) raises NotImplementedError naming the swap-in point, and
``FAKE_DECODE`` substitutes a deterministic byte-level "decode" so
those stages stay testable without the libraries. The codecs share
their bit-level plumbing (bit readers and writers, canonical prefix
codes, RIFF chunks) through `sources/bitstream.py`.

Schema convention:
    payload  binary                    -- the encoded media bytes
    media    struct<media_type string, -- 'image' | 'audio' | 'video'
                    width int, height int,
                    sample_rate int, n_frames int>

Feature extraction, resize and frame sampling are per-item kernels:
plain functions of one row, run inside Arrow batches by
``sources/tables.map_rows``. Feature extraction computes size, sha256,
and a 16-bin byte-value histogram normalized to unit L1 — a stand-in
embedding with the same plumbing (fixed-width float array column) a
real encoder would produce.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tables import map_rows

MEDIA_SCHEMA = (
    "media_type string, width int, height int, sample_rate int, n_frames int"
)

FEATURE_DIM = 16


def synthesize_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic media table from a text corpus: payload = UTF-8
    bytes of the text (opaque to everything downstream), metadata typed
    from stable arithmetic on the id. Stands in for a real ingest whose
    payloads are image/audio bytes."""
    i = F.col(id_col)
    mt = (
        F.when(i % 3 == 0, "image").when(i % 3 == 1, "audio").otherwise("video")
    )
    return df.select(
        F.col(id_col).alias("item_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            mt.alias("media_type"),
            F.when(i % 3 == 0, (64 + (i % 8) * 32).cast("int")).alias("width"),
            F.when(i % 3 == 0, (64 + ((i * 7) % 8) * 32).cast("int")).alias("height"),
            F.when(i % 3 == 1, F.lit(16000).cast("int")).alias("sample_rate"),
            F.when(i % 3 == 2, (8 + i % 120).cast("int")).alias("n_frames"),
        ).alias("media"),
    )


def decode_media(payload: bytes, media_type: str) -> np.ndarray:
    """Codec decode with the pure-Python codecs, chosen by the
    payload's magic bytes. Images (PNG incl. Adam7, baseline JPEG, BMP,
    lossless WebP) decode to the (H, W[, C]) uint8 pixel array; audio
    (WAV: PCM, float, G.711, IMA ADPCM; FLAC) to (n_frames, n_channels)
    samples; video (animated GIF, MJPEG-in-MP4, Annex-B H.264 of I_PCM
    macroblocks) to (n_frames, H, W). Any other format or codec feature
    (lossy WebP, MP3 audio, entropy-coded H.264, …) raises
    NotImplementedError naming the library to install."""
    if media_type == "image":
        from .bmp import is_bmp, read_bmp
        from .jpeg import is_jpeg, read_jpeg
        from .png import is_png, read_png
        from .webp import is_webp, read_webp

        if is_png(payload):
            return read_png(payload)
        if is_jpeg(payload):
            return read_jpeg(payload)
        if is_bmp(payload):
            return read_bmp(payload)
        if is_webp(payload):
            return read_webp(payload)
        raise NotImplementedError(
            "non-PNG/JPEG/BMP/WebP-lossless image payload: install pillow "
            "for lossy WebP/AVIF/... (PNG incl. Adam7, baseline JPEG, BMP, "
            "and VP8L WebP decode natively via sources/png.py, jpeg.py, "
            "bmp.py, webp.py)"
        )
    if media_type == "audio":
        from .flac import is_flac, read_flac
        from .wav import is_wav, read_wav

        if is_wav(payload):
            return read_wav(payload)[0]
        if is_flac(payload):
            return read_flac(payload)[0]
        raise NotImplementedError(
            "non-WAV/FLAC audio payload: install av/soundfile for "
            "MP3/Ogg/... (PCM + float WAV decode natively via sources/wav.py, "
            "FLAC via sources/flac.py)"
        )
    if media_type == "video":
        from .gif import is_gif, read_gif

        if is_gif(payload):
            _pal, frames = read_gif(payload)
            return np.stack(frames)  # (n_frames, H, W) palette indices
        from .h264 import is_annexb_h264, read_annexb_h264
        from .mp4 import extract_samples, is_mp4, read_mp4

        # MP4 sniff FIRST (ADVICE r6): an MP4 whose leading box uses a
        # 64-bit largesize starts 00 00 00 01 — identical to an Annex-B
        # start code — and the next byte can alias an SPS/AUD NAL type.
        # The sniff is NOT strictly one-sided though (ADVICE r7): an
        # Annex-B stream whose first NAL is an SEI with nal_ref_idc=3
        # (header byte 0x66 = 'f') followed by payload bytes 'typ'
        # satisfies is_mp4 too. So the MP4 path structure-validates:
        # if the full box walk fails on a payload that ALSO sniffs as
        # Annex-B, fall back to the Annex-B parser instead of raising.
        tracks = None
        if is_mp4(payload):
            try:
                tracks = read_mp4(payload)
            except Exception:
                if not is_annexb_h264(payload):
                    raise  # genuinely malformed MP4 — surface the walk error
        if tracks is None and is_annexb_h264(payload):
            # Annex-B H.264 elementary stream: bitstream/SPS/PPS/slice
            # layers parse natively; I_PCM macroblocks decode to pixels
            # (sources/h264.py); CAVLC residual MBs raise the named
            # boundary error from inside the slice decoder.
            return read_annexb_h264(payload)
        if tracks is not None:
            from .jpeg import is_jpeg, read_jpeg

            trk = next((t for t in tracks if t.handler == "vide"), tracks[0])
            samples = extract_samples(payload, trk)
            # Motion-JPEG: every video sample is an independent baseline
            # JPEG — the one MP4 codec whose FRAME pixels decode natively
            # (sources/mp4.py sample slicing ∘ sources/jpeg.py decode).
            if samples and (
                trk.codec in ("jpeg", "mjpa", "mjpb", "MJPG", "mjpg")
                or all(is_jpeg(s) for s in samples)
            ):
                return np.stack([read_jpeg(s) for s in samples])
            raise NotImplementedError(
                f"MP4 sample codec {trk.codec!r} pixel decode: install av "
                "for H.264/VP9/... (MJPEG samples decode natively via "
                "sources/jpeg.py; container sample tables / re-mux are "
                "always native via sources/mp4.py)"
            )
        raise NotImplementedError(
            "unrecognized video payload: install av for VP9/AV1/... "
            "(animated GIF, MJPEG-in-MP4, and Annex-B H.264 I_PCM "
            "decode to pixels natively via sources/gif.py, sources/"
            "mp4.py + sources/jpeg.py, and sources/h264.py)"
        )
    raise NotImplementedError(
        f"no codec for {media_type}: install av, or use FAKE_DECODE"
    )


def FAKE_DECODE(payload: bytes, media_type: str) -> np.ndarray:
    """Deterministic stand-in decode: the payload bytes as uint8."""
    return np.frombuffer(payload, dtype=np.uint8)


def byte_histogram(raw: np.ndarray) -> np.ndarray:
    """L1-normalized byte-value histogram — the deterministic stand-in
    embedding (all-zero for empty payloads)."""
    if raw.size == 0:
        return np.zeros(FEATURE_DIM)
    h, _ = np.histogram(raw, bins=FEATURE_DIM, range=(0, 256))
    return h / raw.size


def extract_features(df: DataFrame, decode=FAKE_DECODE) -> DataFrame:
    """Per-item feature extraction over (item_id, payload, media).

    Output: item_id, media_type, n_bytes, sha256, feature array
    (FEATURE_DIM floats). Batches stay Arrow-columnar; the decode
    callable is the only per-item Python and is swappable for a real
    codec."""

    def features(item_id, payload, media):
        raw = decode(bytes(payload), media["media_type"])
        return (
            int(item_id),
            media["media_type"],
            len(payload),
            hashlib.sha256(bytes(payload)).hexdigest(),
            byte_histogram(raw).tolist(),
        )

    return map_rows(
        df.select("item_id", "payload", "media"),
        features,
        "item_id bigint, media_type string, n_bytes bigint, sha256 string,"
        " feature array<double>",
    )


def resize_image(df: DataFrame, out_w: int = 32, out_h: int = 32) -> DataFrame:
    """Image resize to (out_w, out_h) with media.width/height metadata
    rewritten to match — the metadata-consistency contract a real
    resizer must keep. Non-image rows pass through unchanged.

    PNG and lossless-WebP payloads are resized FOR REAL: decoded
    through the pure-Python readers (`sources/png.py` /
    `sources/webp.py`), nearest-neighbor-resampled on the true pixel
    grid (all channels), and re-encoded in their own format — a full
    decode→transform→encode round-trip with no image library. Other
    payloads fall back to the deterministic byte-grid resample
    (row-major width×height view, trimmed/padded to a full grid) so the
    plumbing stays testable without codecs. Schema is preserved.
    """
    cols = df.columns

    def resize(*row):
        from .png import is_png, read_png, write_png
        from .webp import is_webp, read_webp, write_webp

        r = dict(zip(cols, row))
        m, p = dict(r["media"]), bytes(r["payload"])
        r["media"], r["payload"] = m, p
        if m["media_type"] != "image":
            return tuple(r.values())
        if is_png(p) or is_webp(p):
            read, write = (read_png, write_png) if is_png(p) else (read_webp, write_webp)
            px = read(p)
        elif m["width"] and m["height"]:
            # pad-by-repeat when short
            px = np.resize(np.frombuffer(p, dtype=np.uint8), (int(m["height"]), int(m["width"])))
            write = np.ndarray.tobytes
        else:
            return tuple(r.values())
        ys = (np.arange(out_h) * px.shape[0] // out_h).astype(int)
        xs = (np.arange(out_w) * px.shape[1] // out_w).astype(int)
        r["payload"] = write(px[np.ix_(ys, xs)])
        m["width"], m["height"] = out_w, out_h
        return tuple(r.values())

    return map_rows(df, resize, df.schema)


def frame_sample(df: DataFrame, every_k: int = 4) -> DataFrame:
    """Video frame sampling. Animated-GIF payloads are sampled FOR
    REAL at the pixel level (decoded through `sources/gif.py`, every
    k-th frame kept, re-encoded). MP4 payloads are sampled FOR REAL at
    the container level — the way a 100 TB curation job actually does
    it: parse the ISO-BMFF sample tables (`sources/mp4.py`), slice
    every k-th sample's byte range, re-mux with durations preserved —
    no codec decode, payload frames stay opaque. Other video payloads
    keep the deterministic byte-stride stand-in so codec-less plumbing
    stays testable. Non-video rows pass through unchanged; schema is
    preserved."""
    cols = df.columns

    def sample(*row):
        from .gif import is_gif, read_gif, write_gif
        from .mp4 import extract_samples, is_mp4, read_mp4, write_mp4

        r = dict(zip(cols, row))
        p = bytes(r["payload"])
        if r["media"]["media_type"] != "video":
            r["payload"] = p
        elif is_gif(p):
            pal, frames = read_gif(p)
            r["payload"] = write_gif(frames[::every_k], pal)
        elif is_mp4(p):
            trk = read_mp4(p)[0]
            r["payload"] = write_mp4(
                extract_samples(p, trk)[::every_k],
                timescale=trk.timescale,
                durations=trk.sample_durations[::every_k],
                handler=trk.handler or "vide",
                codec=trk.codec or "raw ",
            )
        else:
            r["payload"] = p[::every_k]
        return tuple(r.values())

    return map_rows(df, sample, df.schema)
