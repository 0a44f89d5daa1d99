"""The synthesized MKV/WebM prefixes are REAL EBML: an independent
pure-python EBML walker (this file, no shared code with the engine's
parsers in multimodal/pymedia.py — the independent-parser-FIRST
discipline from the MP4/HEIF rounds) must extract the same DocType,
TimestampScale, Duration, PixelWidth/PixelHeight the in-engine walks
do, and the malformed-fuzz adversaries must yield honest NULLs, never
errors."""

from __future__ import annotations

import struct
from types import SimpleNamespace

from crypto_market_tracker_etl_spark.multimodal.pymedia import (
    ebml_doctype,
    ebml_info,
    ebml_video_dims,
    sniff_mime,
    synth_mkv,
)


# ---------------------------------------------------------------- walker
def read_vint(data: bytes, pos: int, clear_marker: bool = True):
    """(value, length) of the VINT at ``pos``; raises on invalid."""
    fb = data[pos]
    length = next(n for n in range(1, 9) if fb >= 1 << (8 - n))
    val = fb - (1 << (8 - length)) if clear_marker else fb
    for b in data[pos + 1 : pos + length]:
        val = val * 256 + b
    return val, length


def iter_elements(data: bytes, start: int, end: int):
    """Yield (id_hex, body_start, body_end, unknown_size) for each
    element in [start, end) — sizes validated structurally."""
    pos = start
    while pos < end:
        fb = data[pos]
        idlen = next(
            n for n, t in ((1, 0x80), (2, 0x40), (3, 0x20), (4, 0x10))
            if fb >= t
        )
        eid = data[pos : pos + idlen].hex().upper()
        size, slen = read_vint(data, pos + idlen)
        unknown = size == (1 << (7 * slen)) - 1
        body_start = pos + idlen + slen
        body_end = end if unknown else body_start + size
        assert body_end <= end, f"element {eid} overflows parent at {pos}"
        yield eid, body_start, body_end, unknown
        pos = body_end
    assert pos == end, "trailing garbage after last element"


def find(data: bytes, start: int, end: int, target: str):
    for eid, bs, be, _unk in iter_elements(data, start, end):
        if eid == target:
            return bs, be
    return None


def walk_mkv(data: bytes) -> dict:
    """Full independent parse: doctype, timescale, duration (float),
    dims from the first VIDEO TrackEntry (track-type-aware)."""
    out: dict = {}
    assert data[:4] == bytes.fromhex("1A45DFA3")
    hdr_size, hdr_slen = read_vint(data, 4)
    hdr_start, hdr_end = 4 + hdr_slen, 4 + hdr_slen + hdr_size
    dt = find(data, hdr_start, hdr_end, "4282")
    if dt:
        out["doctype"] = data[dt[0] : dt[1]].decode("ascii")
    seg = find(data, hdr_end, len(data), "18538067")
    if not seg:
        return out
    info = find(data, seg[0], seg[1], "1549A966")
    if info:
        ts = find(data, info[0], info[1], "2AD7B1")
        if ts:
            out["timescale"] = int.from_bytes(data[ts[0] : ts[1]], "big")
        du = find(data, info[0], info[1], "4489")
        if du:
            raw = data[du[0] : du[1]]
            out["duration"] = struct.unpack(
                ">d" if len(raw) == 8 else ">f", raw
            )[0]
    tracks = find(data, seg[0], seg[1], "1654AE6B")
    if tracks:
        for eid, bs, be, _ in iter_elements(data, tracks[0], tracks[1]):
            if eid != "AE":
                continue
            video = find(data, bs, be, "E0")
            if not video:
                continue
            w = find(data, video[0], video[1], "B0")
            h = find(data, video[0], video[1], "BA")
            if w:
                out["width"] = int.from_bytes(data[w[0] : w[1]], "big")
            if h:
                out["height"] = int.from_bytes(data[h[0] : h[1]], "big")
            break
    return out


# ----------------------------------------------------------- hand builder
def elt(id_hex: str, body: bytes) -> bytes:
    """Element with a 1-byte size vint (body < 127 bytes)."""
    assert len(body) < 127
    return bytes.fromhex(id_hex) + bytes([0x80 + len(body)]) + body


def build_mkv(
    doctype: bytes = b"webm",
    info_children: bytes | None = None,
    seg_extra: bytes = b"",
    seg_unknown_size: bool = False,
) -> bytes:
    """Independent minimal builder for adversary payloads (no shared
    code with synth_mkv)."""
    header = elt("1A45DFA3", elt("4282", doctype))
    if info_children is None:
        info_children = elt(
            "2AD7B1", (1000000).to_bytes(4, "big")
        ) + elt("4489", struct.pack(">d", 5000.0))
    seg_body = seg_extra + elt("1549A966", info_children)
    if seg_unknown_size:
        seg = bytes.fromhex("18538067") + b"\xff" + seg_body
    else:
        seg = elt("18538067", seg_body)
    return header + seg


def engine_parse(payloads: list[bytes]):
    out = []
    for p in payloads:
        ts, dur = ebml_info(p)
        w, h = ebml_video_dims(p)
        out.append(SimpleNamespace(
            dt=ebml_doctype(p),
            info=SimpleNamespace(timescale_ns=ts, duration_ms=dur),
            dims=SimpleNamespace(width=w, height=h),
            mime=sniff_mime(p),
        ))
    return out


# ------------------------------------------------------------------ tests
def test_synth_mkv_walks_with_independent_parser():
    """Structure + every field, both doctypes × both track layouts,
    including a Duration crossing 2^32 units (the v1-mvhd pattern)."""
    cases = []
    for dt in ("webm", "matroska"):
        for af in (False, True):
            cases.append((dt, af))
    rows = []
    for i, (dt, af) in enumerate(cases):
        dur = 1000 + i * 997 + (2**33 if i % 2 == 1 else 0)
        blob = synth_mkv(dt, 1000000 + i, dur, 640 + i, 480 + i,
                         audio_first=af)
        rows.append((dt, af, dur, i, blob))
    for dt, af, dur, i, blob in rows:
        assert len(blob) == 32 + len(dt) + 53 + (16 if af else 0)
        got = walk_mkv(blob)
        assert got["doctype"] == dt
        assert got["timescale"] == 1000000 + i
        assert got["duration"] == float(dur)  # exact: integral double
        assert got["width"] == 640 + i
        assert got["height"] == 480 + i


def test_ebml_spark_parsers_match_independent_walker():
    payloads, want = [], []
    for i in range(12):
        dt = "webm" if i % 2 == 0 else "matroska"
        af = i % 3 == 0
        tscale = [1000000, 500000, 2000000][i % 3]
        dur = 1 + i * 104729 + (2**33 if i % 4 == 1 else 0)
        payloads.append(synth_mkv(dt, tscale, dur, 320 + 16 * i, 240 + 9 * i,
                                  audio_first=af))
        want.append((dt, tscale, dur))
    got = engine_parse(payloads)
    for r, blob, (dt, tscale, dur) in zip(got, payloads, want):
        ind = walk_mkv(blob)
        assert r.dt == ind["doctype"] == dt
        assert r.info.timescale_ns == ind["timescale"] == tscale
        assert r.info.duration_ms == dur * tscale // 1000000
        assert r.dims.width == ind["width"]
        assert r.dims.height == ind["height"]
        assert r.mime == (
            "video/webm" if dt == "webm" else "video/x-matroska"
        )


def test_ebml_duration_float32_and_default_timescale():
    """A 4-byte FLOAT Duration with NO TimestampScale element: the spec
    default 1,000,000 ns applies to duration_ms while the reported
    timescale stays NULL (applied, not observed)."""
    payload = build_mkv(
        info_children=elt("4489", struct.pack(">f", 12345.0))
    )
    assert walk_mkv(payload)["duration"] == 12345.0
    r = engine_parse([payload])[0]
    assert r.info.timescale_ns is None
    assert r.info.duration_ms == 12345  # units * 1e6 ns / 1e6
    assert r.dt == "webm"


def test_ebml_unknown_size_segment():
    """Streamed Matroska ships Segment with the all-ones unknown-size
    vint (extends to file end): the walks must still descend."""
    payload = build_mkv(seg_unknown_size=True)
    # independent walker agrees: the segment extends to EOF
    top = list(iter_elements(payload, 0, len(payload)))
    assert [t[0] for t in top] == ["1A45DFA3", "18538067"]
    assert top[1][3] is True  # unknown size
    r = engine_parse([payload])[0]
    assert r.info.timescale_ns == 1000000
    assert r.info.duration_ms == 5000


def test_ebml_decoy_ids_inside_void_skipped():
    """A Void element (EC) whose PAYLOAD carries an aligned fake Info
    element (real ID bytes + plausible size + fake TimestampScale)
    sits BEFORE the real Info: a byte-locate would read the fake scale;
    the structural walk hops the Void by its size and can only land on
    the real element — the ispe-decoy class, EBML edition."""
    fake_info = elt(
        "1549A966", elt("2AD7B1", (999).to_bytes(4, "big"))
    )
    payload = build_mkv(seg_extra=elt("EC", fake_info))
    # the decoy bytes are present, aligned, and BEFORE the real Info
    assert payload.find(bytes.fromhex("1549A966")) < payload.rfind(
        bytes.fromhex("1549A966")
    )
    r = engine_parse([payload])[0]
    assert r.info.timescale_ns == 1000000  # the real one, not 999
    assert r.info.duration_ms == 5000


def test_ebml_doctype_decoy_in_header_void_skipped():
    """Same class one level up: a Void inside the EBML header carrying
    fake DocType bytes ('4282' + size + 'webm') before the real
    matroska DocType must not flip the route."""
    fake_dt = elt("4282", b"webm")
    header = elt("1A45DFA3", elt("EC", fake_dt) + elt("4282", b"matroska"))
    payload = header + elt("18538067", b"")
    r = engine_parse([payload])[0]
    assert r.dt == "matroska"
    assert r.mime == "video/x-matroska"


def test_ebml_unknown_doctype_routes_octet_stream():
    payload = build_mkv(doctype=b"weird")
    r = engine_parse([payload])[0]
    assert r.dt == "weird"
    assert r.mime == "application/octet-stream"


def test_ebml_malformed_never_errors():
    """Truncations at every length, oversized size-vints, invalid id
    bytes, empty, non-EBML: NULLs (or partial fields), never an
    exception — one malformed blob cannot fail a backfill."""
    base = build_mkv()
    cases = [base[:n] for n in range(len(base))]
    # size vint claiming past EOF on the Info element
    broken = bytearray(base)
    broken[14] = 0xFE  # header DocType size → huge
    cases.append(bytes(broken))
    cases += [b"", b"\x00" * 16, b"not ebml at all!", bytes.fromhex("1A45DFA3")]
    # invalid 0x00 id byte right after a valid header
    cases.append(elt("1A45DFA3", elt("4282", b"webm")) + b"\x00\x00")
    rows = engine_parse(cases)
    for r in rows:
        # no exception is the main assertion; fields are None or ints
        for v in (r.info.timescale_ns, r.info.duration_ms,
                  r.dims.width, r.dims.height):
            assert v is None or isinstance(v, int)


def test_ebml_oversized_pixel_dims_stay_null():
    """A crafted 4-byte PixelWidth ≥ 2^31 must yield NULL dims, not an
    ANSI cast error — one malformed blob cannot fail a backfill."""
    video_te = elt(
        "AE",
        elt("83", b"\x01")
        + elt("E0", elt("B0", (2**31 + 5).to_bytes(4, "big"))
              + elt("BA", (1080).to_bytes(2, "big"))),
    )
    payload = elt("1A45DFA3", elt("4282", b"webm")) + elt(
        "18538067", elt("1654AE6B", video_te)
    )
    r = engine_parse([payload])[0]
    assert r.dims.width is None
    assert r.dims.height == 1080


def test_ebml_audio_first_pops_to_video_track():
    """The dims walk must skip a whole audio TrackEntry (descend, reach
    its end without a Video child, pop up) and read dims from the NEXT
    TrackEntry — built by hand so the layout is independent of
    synth_mkv's."""
    audio_te = elt("AE", elt("D7", b"\x01") + elt("83", b"\x02"))
    video_te = elt(
        "AE",
        elt("D7", b"\x02")
        + elt("83", b"\x01")
        + elt("E0", elt("B0", (1920).to_bytes(2, "big"))
              + elt("BA", (1080).to_bytes(2, "big"))),
    )
    tracks = elt("1654AE6B", audio_te + video_te)
    payload = elt("1A45DFA3", elt("4282", b"matroska")) + elt(
        "18538067", tracks
    )
    ind = walk_mkv(payload)
    assert (ind["width"], ind["height"]) == (1920, 1080)
    r = engine_parse([payload])[0]
    assert (r.dims.width, r.dims.height) == (1920, 1080)
