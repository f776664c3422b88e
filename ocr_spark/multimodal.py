"""Multimodal column support: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched row builders.

The image path is real (our PNG codec + numpy kernels). Audio and video
decode are feature-detected like pdfio's fitz pattern: soundfile / PyAV
run real decodes when installed; without them, PCM16 WAV still decodes
for real via the stdlib ``wave`` fallback and uncompressed AVIs via the
pure-numpy RIFF walker. Undecodable audio/image payloads become typed
decode_ok=False rows, never exceptions; a video payload no decoder
covers becomes a single-frame stand-in row. ``image_stats_frame`` and
``audio_features_frame`` are the row builders of the golden-gated
media queries (functions/golden.py, which pairs each with its schema).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

IMAGE_STATS_SCHEMA = (
    "media_ref string, width int, height int, channels int, "
    "mean_intensity double, std_intensity double, decode_ok boolean"
)

AUDIO_FEATURES_SCHEMA = (
    "media_ref string, n_samples bigint, duration_s double, rms double, "
    "decode_ok boolean"
)

VIDEO_FRAMES_SCHEMA = "media_ref string, frame_idx int, frame_png binary"


def image_stats_frame(batch: pd.DataFrame) -> pd.DataFrame:
    """(media_ref, png) pandas batch -> typed per-image stats rows
    (IMAGE_STATS_SCHEMA)."""
    from ocr_spark.imaging.png import decode_png

    rows = []
    for r in batch.itertuples():
        data = bytes(r.png) if r.png is not None else b""
        try:
            img = decode_png(data)
            ch = 1 if img.ndim == 2 else img.shape[2]
            rows.append(
                {
                    "media_ref": r.media_ref,
                    "width": int(img.shape[1]),
                    "height": int(img.shape[0]),
                    "channels": ch,
                    "mean_intensity": round(float(img.mean()), 6),
                    "std_intensity": round(float(img.std()), 6),
                    "decode_ok": True,
                }
            )
        except Exception:  # noqa: BLE001 — undecodable -> typed skip row
            rows.append(
                {
                    "media_ref": r.media_ref,
                    "width": 0,
                    "height": 0,
                    "channels": 0,
                    "mean_intensity": 0.0,
                    "std_intensity": 0.0,
                    "decode_ok": False,
                }
            )
    return pd.DataFrame(rows)


def _soundfile():
    """Feature-detected soundfile (libsndfile) — the pdfio._fitz pattern:
    real decode when installed, honest fallback when not."""
    try:
        import soundfile  # type: ignore

        return soundfile
    except ImportError:
        return None


def _av():
    """Feature-detected PyAV (ffmpeg bindings) for video decode."""
    try:
        import av  # type: ignore

        return av
    except (ImportError, OSError):
        return None


def _decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    """Real audio decode -> (mono float32 samples, sample rate).

    soundfile handles any libsndfile format when installed; without it,
    PCM16 RIFF/WAVE payloads decode via the stdlib ``wave`` module (the
    same executable-fallback pattern as pdfio's header walker), so the
    real path runs in this container too. Anything else raises
    NotImplementedError — the caller turns that into a typed skip row."""
    sf = _soundfile()
    if sf is not None:
        import io

        samples, rate = sf.read(io.BytesIO(data), dtype="float32", always_2d=True)
        return samples.mean(axis=1).astype(np.float32), int(rate)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        import io
        import wave

        with wave.open(io.BytesIO(data), "rb") as w:
            if w.getsampwidth() != 2:
                raise NotImplementedError("wave fallback handles PCM16 only")
            arr = (
                np.frombuffer(w.readframes(w.getnframes()), dtype="<i2").astype(
                    np.float32
                )
                / 32768.0
            )
            ch = w.getnchannels()
            if ch > 1:
                arr = arr.reshape(-1, ch).mean(axis=1).astype(np.float32)
            return arr, int(w.getframerate())
    raise NotImplementedError(
        "audio decode requires soundfile/ffmpeg for non-WAV payloads "
        "(absent in this container); PCM16 WAV decodes via the stdlib "
        "fallback"
    )


def audio_features_frame(batch: pd.DataFrame) -> pd.DataFrame:
    """(media_ref, png) pandas batch -> typed audio-feature rows
    (AUDIO_FEATURES_SCHEMA). Each row runs the real decoder — soundfile
    when installed, the stdlib WAV fallback otherwise — and a payload it
    cannot decode becomes a typed decode_ok=False row (same discipline
    as the image path)."""
    rows = []
    for r in batch.itertuples():
        data = bytes(r.png) if r.png is not None else b""
        try:
            samples, rate = _decode_audio(data)
            # a structurally valid zero-frame WAV decodes to an
            # empty array; mean([]) is NaN, and NaN in a
            # decode_ok row breaks downstream aggregation
            rms = float(np.sqrt(np.mean(samples**2))) if len(samples) else 0.0
            rows.append(
                {
                    "media_ref": r.media_ref,
                    "n_samples": len(samples),
                    "duration_s": round(len(samples) / rate, 6),
                    "rms": round(rms, 6),
                    "decode_ok": True,
                }
            )
        except Exception:  # noqa: BLE001 — undecodable -> typed skip
            rows.append(
                {
                    "media_ref": r.media_ref,
                    "n_samples": 0,
                    "duration_s": 0.0,
                    "rms": 0.0,
                    "decode_ok": False,
                }
            )
    return pd.DataFrame(rows)


def _decode_video_frames(data: bytes, every_n: int) -> list[tuple[int, np.ndarray]]:
    """Real video frame sampling (every Nth frame, grayscale): PyAV when
    installed (any ffmpeg codec); without it, *uncompressed* DIB AVIs
    decode via the pure-numpy RIFF walker (ocr_spark.aviio — the video
    sibling of pdfio's no-fitz header walker), so the real path executes
    in this container too. Raises NotImplementedError only when neither
    decoder applies (compressed codec without PyAV)."""
    av = _av()
    if av is None:
        from ocr_spark.aviio import walk_avi_frames

        if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
            return walk_avi_frames(data, every_n)
        raise NotImplementedError(
            "video decode requires PyAV/ffmpeg for non-AVI payloads "
            "(absent in this container); uncompressed DIB AVIs decode "
            "via the RIFF walker"
        )
    import io

    out = []
    with av.open(io.BytesIO(data)) as container:
        for i, frame in enumerate(container.decode(video=0)):
            if i % every_n == 0:
                out.append((i, frame.to_ndarray(format="gray")))
    return out


def make_frame_sample_udf(every_n: int = 10):
    """Video frame sampling: every Nth frame of each payload via the real
    decoder per row — PyAV when installed, the pure-numpy uncompressed-AVI
    walker otherwise. A payload no available decoder covers becomes the
    deterministic single-frame stand-in (its bytes as frame 0); a
    malformed one is dropped."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.imaging.png import encode_png

        # feature-detect on the EXECUTOR, where the UDF runs: driver-side
        # detection would bake the driver venv's PyAV availability into
        # the plan and kill tasks on heterogeneous clusters
        for b in batches:
            rows = []
            for r in b.itertuples():
                data = bytes(r.png) if r.png is not None else b""
                if not data:
                    continue
                try:
                    frames = _decode_video_frames(data, every_n)
                except NotImplementedError:
                    rows.append(
                        {"media_ref": r.media_ref, "frame_idx": 0, "frame_png": data}
                    )
                    continue
                except Exception:  # noqa: BLE001 — undecodable -> dropped
                    continue
                for i, arr in frames:
                    rows.append(
                        {
                            "media_ref": r.media_ref,
                            "frame_idx": i,
                            "frame_png": encode_png(arr),
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_ref", "frame_idx", "frame_png"])

    return fn
