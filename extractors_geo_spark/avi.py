"""Pure-stdlib MJPEG-in-AVI container codec (RIFF 'AVI ' with 'MJPG'
video stream; public Microsoft AVI RIFF + OpenDML specs).

Gives the video leg of the multimodal path one fully REAL format:
frames are whole JFIF images (decoded by ..jpeg, which handles baseline
AND progressive), the container is a flat RIFF chunk walk — no ffmpeg,
no binary deps.

  write_mjpeg_avi(frames, fps): list of uint8 arrays -> AVI bytes
      (each frame JPEG-encoded; gray (h, w) or RGB (h, w, 3)).
  read_mjpeg_avi(data): AVI bytes -> {width, height, fps, n_frames,
      frames: [jpeg bytes, ...]}.

The reference routes video mimetypes without decoding them (extractors
trigger on image/zip keys only); frame sampling is engine-new for the
training-data pipeline (SURVEY.md 'multimodal columns').
"""

from __future__ import annotations

import struct

import numpy as np

from . import jpeg as _jpeg


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) & 1 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def write_mjpeg_avi(frames: list[np.ndarray], fps: int = 10, quality: int = 90) -> bytes:
    """JPEG-encode each frame and wrap in a minimal standard AVI."""
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    encoded = [_jpeg.encode(np.asarray(f, np.uint8), quality=quality) for f in frames]
    n = len(encoded)
    max_size = max(len(e) for e in encoded)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_size * fps,    # dwMaxBytesPerSec
        0,                 # dwPaddingGranularity
        0,                 # dwFlags (no index chunk written)
        n, 0, 1, max_size, w, h, 0, 0, 0, 0,
    )
    # dwFlags, wPriority, wLanguage, dwInitialFrames, dwScale, dwRate,
    # dwStart, dwLength, dwSuggestedBufferSize, dwQuality, dwSampleSize
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, max_size, 0xFFFFFFFF, 0)
        + struct.pack("<4h", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0x47504A4D,  # 'MJPG'
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", e) for e in encoded))
    riff_payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_payload)) + riff_payload


def _walk(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body_start = pos + 8
        if body_start + size > end:
            raise ValueError("truncated RIFF chunk")
        yield fourcc, body_start, body_start + size
        pos = body_start + size + (size & 1)


def is_avi(data: bytes) -> bool:
    return len(data) > 12 and data[:4] == b"RIFF" and data[8:12] == b"AVI "


def read_mjpeg_avi(data: bytes) -> dict:
    """Parse an AVI; returns dict with width/height/fps/n_frames/frames
    (raw JPEG bytes per frame). Raises ValueError on non-AVI or a
    non-MJPG video stream."""
    if not is_avi(data):
        raise ValueError("not an AVI")
    out = {"width": None, "height": None, "fps": None, "n_frames": 0, "frames": []}
    mjpg = False
    for fourcc, b0, b1 in _walk(data, 12, len(data)):
        if fourcc != b"LIST":
            continue
        ltype = data[b0 : b0 + 4]
        if ltype == b"hdrl":
            for c4, c0, c1 in _walk(data, b0 + 4, b1):
                if c4 == b"avih":
                    us_per_frame, _, _, _, total = struct.unpack("<IIIII", data[c0 : c0 + 20])
                    w, h = struct.unpack("<II", data[c0 + 32 : c0 + 40])
                    out["width"], out["height"] = w, h
                    if us_per_frame:
                        out["fps"] = round(1_000_000 / us_per_frame, 6)
                elif c4 == b"LIST" and data[c0 : c0 + 4] == b"strl":
                    for s4, s0, s1 in _walk(data, c0 + 4, c1):
                        if s4 == b"strh" and data[s0 : s0 + 4] == b"vids":
                            handler = data[s0 + 4 : s0 + 8]
                            scale, rate = struct.unpack("<II", data[s0 + 20 : s0 + 28])
                            if scale:
                                out["fps"] = rate / scale
                            mjpg = handler in (b"MJPG", b"mjpg")
        elif ltype == b"movi":
            for c4, c0, c1 in _walk(data, b0 + 4, b1):
                # '##dc'/'##db' = compressed/uncompressed video of stream ##
                if c4[2:4] in (b"dc", b"db"):
                    out["frames"].append(data[c0:c1])
    if not mjpg:
        raise ValueError("video stream is not MJPG")
    if not out["frames"]:
        raise ValueError("no video frames")
    out["n_frames"] = len(out["frames"])
    return out
