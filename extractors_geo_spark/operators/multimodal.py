"""Multimodal columns: image/video as opaque binary + typed metadata.

The engine treats non-TIFF payloads the way a 100 TB training-data
pipeline does: bytes stay an opaque `binary` column, typed metadata
travels beside them, and every stage is an Arrow-batched mapInPandas
operator. Every parse is REAL (pure-Python codecs in
..png/..jpeg/..exif/..avi/..mp4/..h264/..subtitles): video as MJPEG
(AVI and MP4 jpeg-codec tracks), uncompressed MP4 ('raw '/'Y800') and
CAVLC H.264 MP4, and tx3g caption tracks. Bytes no codec here can
parse never turn into made-up values: a malformed image or clip yields
an error row or no rows, and a well-formed stream in a codec (or coding
tools) the engine does not carry raises NotImplementedError.

Operators:
  exif_geo           JPEG EXIF GPS position + orientation per image
  image_text_meta    PNG text chunks / EXIF description -> (key, value) rows
  sample_frames      video bytes -> one row per sampled frame (UDTF-style
                     1->N explode, like the tile pyramid)
  video_captions     MP4 caption track -> timed caption rows
  sidecar_captions   SRT / WebVTT documents -> timed caption rows
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import jpeg as _jpeg
from .. import png as _png

EXIF_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)


def exif_geo(images: DataFrame, id_col: str = "image_id") -> DataFrame:
    """JPEG bytes -> EXIF GPS position + orientation (the crawl-photo geo
    source: images georeference from their GPS IFD with no GeoTIFF tags,
    then feed the SAME PIP/tiling operators as raster footprints).
    Errors-as-data: non-JPEG or malformed bytes yield an error row, rows
    without a GPS IFD yield NULL coordinates — never a task failure.
    Narrow Arrow stage; bytes pruned from the output."""
    from .. import exif as _exif

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for iid, data in zip(b[id_col], b["bytes"]):
                try:
                    r = _exif.read_exif(bytes(data))
                    rows.append({"image_id": iid, "lon": r["lon"], "lat": r["lat"],
                                 "orientation": r["orientation"], "error": None})
                except Exception as e:
                    rows.append({"image_id": iid, "lon": None, "lat": None,
                                 "orientation": None, "error": str(e) or "bad exif"})
            yield pd.DataFrame(rows, columns=["image_id", "lon", "lat", "orientation", "error"])

    return images.select(F.col(id_col), "bytes").mapInPandas(run, EXIF_SCHEMA)


IMAGE_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)


def image_text_meta(images: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Embedded image captions/metadata -> (image_id, key, value) rows:
    PNG tEXt/iTXt/zTXt chunks and JPEG EXIF ImageDescription — the
    image-side caption sources of the north star. Images without text
    metadata (or malformed ones) emit zero rows."""
    from .. import exif as _exif

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for iid, data in zip(b[id_col], b["bytes"]):
                data = bytes(data)
                try:
                    if data[:8] == b"\x89PNG\r\n\x1a\n":
                        for k, v in _png.read_text_chunks(data).items():
                            rows.append({"image_id": iid, "key": k, "value": v})
                    elif data[:2] == b"\xff\xd8":
                        r = _exif.read_exif(data)
                        if r.get("description"):
                            rows.append({"image_id": iid, "key": "Description",
                                         "value": r["description"]})
                except Exception:
                    continue  # malformed bytes: zero rows, task alive
            yield pd.DataFrame(rows, columns=["image_id", "key", "value"])

    return images.select(F.col(id_col), "bytes").mapInPandas(run, IMAGE_TEXT_SCHEMA)


def mp4_meta(data: bytes) -> dict:
    """Real ISO-BMFF (MP4) container parse, pure stdlib: walks the box
    tree to mvhd (timescale/duration) and the first video tkhd (w, h).
    No frame decode — sample_frames uses it to tell a well-formed MP4 in
    an unsupported codec from malformed bytes."""
    from .. import mp4 as _mp4

    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an MP4")
    out = {"duration_s": None, "width": None, "height": None, "n_tracks": 0}
    for typ, b0, b1 in _mp4._walk(data, 0, len(data)):
        if typ != b"moov":
            continue
        for t2, c0, c1 in _mp4._walk(data, b0, b1):
            if t2 == b"mvhd":
                ver = data[c0]
                if ver == 1:
                    ts, dur = struct.unpack(">IQ", data[c0 + 20 : c0 + 32])
                else:
                    ts, dur = struct.unpack(">II", data[c0 + 12 : c0 + 20])
                out["duration_s"] = dur / ts if ts else None
            elif t2 == b"trak":
                out["n_tracks"] += 1
                for t3, d0, d1 in _mp4._walk(data, c0, c1):
                    if t3 == b"tkhd":
                        ver = data[d0]
                        off = d0 + (96 if ver == 1 else 84)
                        w, h = struct.unpack(">II", data[off - 8 : off])
                        # 16.16 fixed point; first non-zero wins (video track)
                        if w and h and out["width"] is None:
                            out["width"], out["height"] = w >> 16, h >> 16
    if out["duration_s"] is None:
        raise ValueError("no mvhd in MP4")
    if out["duration_s"] == 0:
        # fragmented (DASH) file: mvhd carries 0; sum moof/trun durations
        try:
            parsed = _mp4.read_mjpeg_mp4(data)
            out["duration_s"] = parsed["duration_ms"] / 1000.0
        except ValueError:
            pass  # non-decodable codec: duration stays 0 (still parsed)
    return out


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("fw", T.IntegerType()),
        T.StructField("fh", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(videos: DataFrame, every_ms: int = 1000,
                  id_col: str = "video_id") -> DataFrame:
    """Video -> frames (1 row in, N rows out — same explode shape as the
    tile pyramid). Frame bytes are row-major uint8 grayscale (fw x fh).

    Every frame is REAL: MJPEG-in-AVI (..avi + the in-repo JPEG codec,
    fps-derived timestamps) and MP4 tracks in JPEG, uncompressed or
    CAVLC H.264 (..h264) coding, with timestamps from the
    stbl/trun sample tables. Malformed or truncated bytes yield zero
    frames (callers anti-join ids to find them); a well-formed MP4 whose
    codec or H.264 coding tools the engine does not carry raises
    NotImplementedError — never made-up frames."""

    from .. import avi as _avi
    from .. import mp4 as _mp4

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for vid, data in zip(b[id_col], b["bytes"]):
                data = bytes(data)
                if _avi.is_avi(data):
                    try:
                        parsed = _avi.read_mjpeg_avi(data)
                    except Exception:
                        # malformed crawl bytes raise struct.error/Index-
                        # Error too — NEVER kill the job, drop the row
                        parsed = None
                    if parsed is not None:
                        fps = parsed["fps"] or 1.0
                        duration_ms = int(parsed["n_frames"] * 1000 / fps)
                        for i, ts in enumerate(range(0, duration_ms, every_ms)):
                            fi = min(int(ts * fps / 1000), parsed["n_frames"] - 1)
                            try:
                                arr = _jpeg.decode(parsed["frames"][fi])
                            except (ValueError, IndexError, struct.error):
                                # corrupt JPEG frame: stop sampling this
                                # video, keep the frames decoded so far
                                break
                            if arr.ndim == 3:
                                arr = arr.astype(np.float64).mean(axis=2).astype(np.uint8)
                            rows.append({"video_id": vid, "frame_idx": i, "ts_ms": ts,
                                         "fw": arr.shape[1], "fh": arr.shape[0],
                                         "frame": arr.tobytes()})
                        continue
                wellformed_mp4 = False
                if len(data) > 12 and data[4:8] == b"ftyp":
                    try:
                        # REAL end-to-end for JPEG-codec ('jpeg'/'mjpa'/..)
                        # AND uncompressed ('raw '/'Y800') MP4 tracks: the
                        # stbl sample tables give per-frame byte ranges +
                        # timestamps; JPEG samples decode with the T.81
                        # codec, raw samples ARE the pixels
                        parsed = _mp4.read_mjpeg_mp4(data)
                    except (ValueError, IndexError, struct.error, KeyError):
                        parsed = None
                    if parsed is not None and parsed.get("codec") == "h264":
                        # REAL pixels for CAVLC streams (..h264): I_PCM
                        # bit-exact, intra + P entropy-decoded.
                        # Out-of-profile streams (B slices and CABAC
                        # among them) raise ValueError -> the
                        # well-formed-unsupported contract below
                        try:
                            from .. import h264 as _h264

                            dur = parsed["duration_ms"]
                            # container timestamps are per-sample
                            # composition times; sorting them keeps the
                            # timeline monotone for a track with ctts
                            # offsets
                            tss = sorted(parsed["timestamps_ms"])
                            # GOP-aware: decode the track sequentially so
                            # P frames predict from their references (a
                            # real deployment decodes per-GOP; fixture
                            # tracks are short)
                            arrs = _h264.decode_samples(
                                list(parsed["frames"]), parsed["avcc"] or b"")
                            for i, ts in enumerate(range(0, dur, every_ms)):
                                fi = max(0, np.searchsorted(tss, ts, side="right") - 1)
                                arr = arrs[int(fi)]
                                rows.append({"video_id": vid, "frame_idx": i,
                                             "ts_ms": ts, "fw": arr.shape[1],
                                             "fh": arr.shape[0],
                                             "frame": arr.tobytes()})
                            continue
                        except (ValueError, IndexError, struct.error):
                            # corrupt/unsupported sample bytes.  Only
                            # data-shaped exception types are absorbed — a
                            # genuine programming error in the codec
                            # propagates instead of masquerading as an
                            # unsupported stream (ADVICE r5)
                            wellformed_mp4 = True
                            parsed = None
                    if parsed is not None:
                        dur = parsed["duration_ms"]
                        tss = parsed["timestamps_ms"]
                        for i, ts in enumerate(range(0, dur, every_ms)):
                            fi = max(0, np.searchsorted(tss, ts, side="right") - 1)
                            s = parsed["frames"][int(fi)]
                            if parsed.get("codec") == "raw":
                                pw, ph = parsed["width"], parsed["height"]
                                a = np.frombuffer(s, np.uint8)
                                if a.size == pw * ph:
                                    arr = a.reshape(ph, pw)
                                elif a.size == pw * ph * 3:
                                    arr = a.reshape(ph, pw, 3)
                                else:  # corrupt sample: stop sampling here
                                    break
                            else:
                                try:
                                    arr = _jpeg.decode(s)
                                except (ValueError, IndexError, struct.error):
                                    # structurally valid MP4, corrupt JPEG
                                    # sample: stop sampling this video, keep
                                    # frames decoded so far (errors-as-data,
                                    # ADVICE r4 low; type-narrowed ADVICE r5)
                                    break
                            if arr.ndim == 3:
                                arr = arr.astype(np.float64).mean(axis=2).astype(np.uint8)
                            rows.append({"video_id": vid, "frame_idx": i, "ts_ms": ts,
                                         "fw": arr.shape[1], "fh": arr.shape[0],
                                         "frame": arr.tobytes()})
                        continue
                    if not wellformed_mp4:
                        try:
                            # parses, and no track is in a codec the
                            # readers decode: a well-formed container in a
                            # codec the engine lacks. A supported track
                            # that failed to read has malformed tables.
                            mp4_meta(data)
                            wellformed_mp4 = not any(
                                fourcc in _mp4._SUPPORTED_FOURCC
                                for *_spans, fourcc, _ts in _mp4._tracks(data))
                        except Exception:  # malformed boxes
                            pass
                if wellformed_mp4:
                    # a genuinely unsupported-but-WELL-FORMED codec (or
                    # H.264 coding tools outside the in-repo CAVLC
                    # profile). Real deployment decodes with ffmpeg here.
                    raise NotImplementedError(
                        "video codec not available in this container"
                    )
                # malformed/truncated crawl bytes: drop the row (zero
                # frames) so callers can anti-join undecodable ids;
                # never kills the Spark task (ADVICE r03 medium)
            yield pd.DataFrame(
                rows, columns=["video_id", "frame_idx", "ts_ms", "fw", "fh", "frame"]
            )

    return videos.select(F.col(id_col), "bytes").mapInPandas(run, FRAME_SCHEMA)


CAPTION_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("caption", T.StringType()),
    ]
)


def video_captions(videos: DataFrame, id_col: str = "video_id") -> DataFrame:
    """MP4 tx3g/text caption-track extraction (1 row in, N caption rows
    out) — the caption half of the image+caption north star when the
    source is a video container. Videos without a caption track or with
    malformed bytes emit zero rows (anti-joinable); never a task
    failure. Narrow Arrow stage; bytes pruned from the output."""
    from .. import mp4 as _mp4c

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for vid, data in zip(b[id_col], b["bytes"]):
                try:
                    caps = _mp4c.read_caption_track(bytes(data))
                except Exception:
                    continue
                for ts, text in caps:
                    rows.append({"video_id": vid, "ts_ms": ts, "caption": text})
            yield pd.DataFrame(rows, columns=["video_id", "ts_ms", "caption"])

    return videos.select(F.col(id_col), "bytes").mapInPandas(run, CAPTION_SCHEMA)


SIDECAR_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
        T.StructField("caption", T.StringType()),
    ]
)


def sidecar_captions(docs: DataFrame, id_col: str = "video_id",
                     text_col: str = "text") -> DataFrame:
    """SRT / WebVTT sidecar documents -> timed caption rows (format
    sniffed per row). Unparseable rows emit nothing — anti-joinable,
    never a task failure."""
    from .. import subtitles as _subs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for vid, text in zip(b[id_col], b[text_col]):
                try:
                    cues = _subs.parse_cues(str(text))
                except Exception:
                    continue
                for a, e, t in cues:
                    rows.append({"video_id": vid, "start_ms": a,
                                 "end_ms": e, "caption": t})
            yield pd.DataFrame(rows, columns=["video_id", "start_ms", "end_ms", "caption"])

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(run, SIDECAR_SCHEMA)
