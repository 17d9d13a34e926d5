"""Pure-stdlib ISO-BMFF / MP4 container probe (+ a minimal writer
for test vectors) — real video METADATA for the multimodal-column
surface: brands, duration, per-track geometry and codec handler.

Implements the public ISO/IEC 14496-12 box model: size/type walk
(including 64-bit ``size==1`` largesize and ``size==0``
runs-to-end), ``ftyp`` brands, ``mvhd`` version 0/1
timescale+duration, per-``trak`` ``tkhd`` (version 0/1, width/height
as 16.16 fixed point) and ``hdlr`` handler type (vide/soun/...),
``mdat`` payload size. FRAME decode stays honestly gated — that
would ship ffmpeg via --py-files into the same batch shape
(``ops/multimodal.frame_sample_plan`` already plans the sampling) —
but the container walk is enough for the filter/plan stages a
100 TB pipeline runs BEFORE any expensive decode: drop zero-video
tracks, cap durations, route codecs.

Structural damage raises typed :class:`Mp4Error` only. The walk is
bounded: box count capped, recursion only into the fixed container
set, so a hostile header can't recurse or loop unboundedly.

Reference parity: extract-kit has no video path; this mirrors
``kernels/png.py`` / ``kernels/wav.py`` for the builder brief's
first-class multimodal columns.
"""

from __future__ import annotations

import struct


class Mp4Error(ValueError):
    """Typed parse failure — the only exception this module raises
    for malformed input."""


#: Containers whose children we walk. Everything else is opaque.
_CONTAINERS = {b"moov", b"trak", b"mdia"}

#: Walk guards: total boxes visited across the whole file, and
#: container nesting depth (a chain of nested moov headers would
#: otherwise drive Python recursion past its limit — an UNTYPED
#: RecursionError — before the box budget fires).
MAX_BOXES = 4096
MAX_DEPTH = 16


def _walk(payload: bytes, start: int, end: int, depth: int,
          out: dict, budget: list[int], in_trak: bool = False) -> None:
    if depth > MAX_DEPTH:
        raise Mp4Error(f"container nesting beyond {MAX_DEPTH}")
    pos = start
    while pos < end:
        if budget[0] <= 0:
            raise Mp4Error(f"more than {MAX_BOXES} boxes")
        budget[0] -= 1
        if pos + 8 > end:
            raise Mp4Error("truncated box header")
        size, = struct.unpack(">I", payload[pos:pos + 4])
        btype = payload[pos + 4:pos + 8]
        header = 8
        if size == 1:
            if pos + 16 > end:
                raise Mp4Error("truncated largesize header")
            size, = struct.unpack(">Q", payload[pos + 8:pos + 16])
            header = 16
        elif size == 0:  # box runs to end of enclosing scope
            size = end - pos
        if size < header or pos + size > end:
            raise Mp4Error(f"bad box size {size} for {btype!r}")
        body = payload[pos + header:pos + size]
        if btype == b"ftyp":
            if len(body) < 8:
                raise Mp4Error("short ftyp")
            out["major_brand"] = body[:4].decode("latin-1").strip()
            out["compatible_brands"] = sorted(
                {body[i:i + 4].decode("latin-1").strip()
                 for i in range(8, len(body) - 3, 4)})
        elif btype == b"mvhd":
            v = body[0] if body else 255
            if v == 0 and len(body) >= 20:
                ts, dur = struct.unpack(">II", body[12:20])
            elif v == 1 and len(body) >= 32:
                ts, = struct.unpack(">I", body[20:24])
                dur, = struct.unpack(">Q", body[24:32])
            else:
                raise Mp4Error(f"bad mvhd version/size {v}/{len(body)}")
            # hostile headers: a 0xFFFFFFFF timescale / near-2^64
            # duration would overflow the callers' int32/int64 column
            # casts — bound them as typed corruption, like the image
            # codecs bound dimensions
            if not 1 <= ts <= 0x7FFFFFFF:
                raise Mp4Error(f"implausible mvhd timescale {ts}")
            dur_ms = dur * 1000 // ts
            if dur_ms > (1 << 62):
                raise Mp4Error(f"implausible duration {dur_ms} ms")
            out["timescale"] = ts
            out["duration_ms"] = dur_ms
        elif btype == b"trak":
            out.setdefault("tracks", []).append({})
            _walk(payload, pos + header, pos + size, depth + 1,
                  out, budget, in_trak=True)
        elif btype == b"tkhd":
            # a tkhd outside any trak would overwrite the geometry of
            # the last track walked
            if not in_trak:
                raise Mp4Error("tkhd outside trak")
            v = body[0] if body else 255
            # width/height are the LAST 8 bytes, 16.16 fixed point,
            # for both versions
            if v not in (0, 1) or len(body) < (84 if v == 0 else 96):
                raise Mp4Error(f"bad tkhd version/size {v}/{len(body)}")
            w, h = struct.unpack(">II", body[-8:])
            out["tracks"][-1]["width"] = w >> 16
            out["tracks"][-1]["height"] = h >> 16
        elif btype == b"hdlr":
            if in_trak:
                if len(body) < 12:
                    raise Mp4Error("short hdlr")
                out["tracks"][-1]["handler"] = \
                    body[8:12].decode("latin-1").strip()
        elif btype == b"mdat":
            out["mdat_bytes"] = out.get("mdat_bytes", 0) + len(body)
        elif btype in _CONTAINERS:
            _walk(payload, pos + header, pos + size, depth + 1,
                  out, budget, in_trak)
        pos += size


def probe_mp4(payload: bytes) -> dict:
    """Parse the container structure. Returns ``{major_brand,
    compatible_brands, timescale, duration_ms, mdat_bytes, tracks:
    [{handler, width, height}, ...]}`` (geometry keys present only on
    tracks that carry a tkhd). Raises :class:`Mp4Error` on anything
    structurally broken, including a missing moov/mvhd."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise Mp4Error("not an ISO-BMFF file (no leading ftyp)")
    out: dict = {"mdat_bytes": 0, "tracks": []}
    _walk(payload, 0, len(payload), 0, out, [MAX_BOXES])
    if "timescale" not in out:
        raise Mp4Error("missing moov/mvhd")
    out.setdefault("major_brand", "")
    out.setdefault("compatible_brands", [])
    return out


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def encode_mp4(duration_ms: int, timescale: int,
               tracks: list[tuple[str, int, int]],
               mdat: bytes = b"",
               brand: str = "isom") -> bytes:
    """Minimal writer for deterministic test vectors: ftyp + moov
    (mvhd v0 + one trak/tkhd/mdia/hdlr per entry) + mdat.
    ``tracks`` entries are (handler, width, height)."""
    assert len(brand.encode("ascii")) == 4, "brands are 4 ASCII bytes"
    assert all(len(h.encode("ascii")) == 4 for h, _, _ in tracks), \
        "handler types are 4 ASCII bytes"
    dur = duration_ms * timescale // 1000
    mvhd = _box(b"mvhd", bytes(12) + struct.pack(">II", timescale, dur)
                + bytes(80))
    traks = b""
    for handler, w, h in tracks:
        tkhd = _box(b"tkhd", bytes(76)
                    + struct.pack(">II", w << 16, h << 16))
        hdlr = _box(b"hdlr", bytes(8) + handler.encode("ascii")
                    + bytes(13))
        mdia = _box(b"mdia", hdlr)
        traks += _box(b"trak", tkhd + mdia)
    ftyp = _box(b"ftyp", brand.encode("ascii")
                + struct.pack(">I", 0) + b"isommp42")
    return ftyp + _box(b"moov", mvhd + traks) + _box(b"mdat", mdat)
