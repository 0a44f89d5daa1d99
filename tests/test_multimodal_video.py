"""The synthesized MP4 prefixes are REAL ISO-BMFF: an independent
pure-python box walker (this file, no shared code with the engine's
parser in multimodal/pymedia.py) must extract the same ftyp brand and mvhd fields the
in-engine parser does — a differential test against a second
implementation, beyond the DuckDB oracle's analytic check of the
[video_meta]/[mime_sniff] queries."""

from __future__ import annotations

import struct
from collections import namedtuple

from crypto_market_tracker_etl_spark.multimodal import pymedia as pm
from crypto_market_tracker_etl_spark.multimodal.pymedia import (
    sniff_mime,
    synth_mp4,
)

VideoMeta = namedtuple(
    "VideoMeta", "mime_type brand timescale duration_ms n_tracks"
)


def video_meta(payload: bytes) -> VideoMeta:
    return VideoMeta(*pm.parse_video_mp4(payload))


def walk_boxes(payload: bytes, start: int = 0):
    """Independent ISO-BMFF top-level box walker: yields (type, body)."""
    pos = start
    while pos + 8 <= len(payload):
        size, tag = struct.unpack_from(">I4s", payload, pos)
        assert size >= 8, f"corrupt box size {size} at {pos}"
        yield tag.decode("ascii"), payload[pos + 8 : pos + size]
        pos += size
    assert pos == len(payload), "trailing garbage after last box"


def parse_mvhd_v0(body: bytes):
    version = body[0]
    assert version == 0
    _, _, timescale, duration = struct.unpack_from(">IIII", body, 4)
    (next_track,) = struct.unpack_from(">I", body, 96)
    return timescale, duration, next_track


def parse_mvhd(body: bytes):
    """Version-dispatching mvhd parse (r11): v0 as above; v1 has u64
    creation/modification/duration — timescale at +20, duration u64 at
    +24, next_track at +108 (body offsets exclude the 8-byte box
    header the engine parser's tag-relative offsets include)."""
    version = body[0]
    if version == 0:
        return parse_mvhd_v0(body)
    assert version == 1
    (timescale,) = struct.unpack_from(">I", body, 20)
    (duration,) = struct.unpack_from(">Q", body, 24)
    (next_track,) = struct.unpack_from(">I", body, 108)
    return timescale, duration, next_track


def test_synth_mp4_v1_walks_and_parses():
    """r11 version-1 mvhd: the 64-bit layout must walk with the
    independent parser (which validates the box sizes structurally)
    and the engine parse must agree on every field — including
    durations PAST 2^32, where the v0 read would be meaningless."""
    for i in range(10):
        want_dur = 7000 + i * 4391 + (2**33 if i % 2 == 1 else 0)
        blob = synth_mp4("isom", 90000, want_dur, i % 4 + 1, version1=True)
        m = video_meta(blob)
        assert len(blob) == 148
        boxes = dict(walk_boxes(blob))
        assert set(boxes) == {"ftyp", "moov"}
        moov_children = dict(walk_boxes(blob, start=28))
        ts, dur, next_track = parse_mvhd(moov_children["mvhd"])
        assert dur == want_dur
        assert m.mime_type == "video/mp4"
        assert m.timescale == ts == 90000
        assert m.duration_ms == dur * 1000 // ts
        assert m.n_tracks == next_track - 1 == i % 4 + 1


def test_video_meta_v1_unknown_duration_stays_null():
    """The spec's 'all ones = unknown duration' v1 sentinel must stay
    NULL (the gated two-halves read) — an unguarded 8-byte read would
    overflow the bigint column and fail the whole backfill batch."""
    blob = bytearray(synth_mp4("isom", 600, 0, 1, version1=True))
    # duration u64 lives at moov(28)+8(box hdr)+24 = byte 60..67
    blob[60:68] = b"\xff" * 8
    got = video_meta(bytes(blob))
    assert got.mime_type == "video/mp4"
    assert got.timescale == 600
    assert got.duration_ms is None
    assert got.n_tracks == 1


def test_synth_mp4_walks_with_independent_parser():
    for i in range(8):
        payload = synth_mp4("isom" if i % 2 == 0 else "mp42", 600 + i * 100,
                            5000 + i * 997, i % 3 + 1)
        boxes = dict(walk_boxes(payload))
        assert set(boxes) == {"ftyp", "moov"}
        assert boxes["ftyp"][:4].decode() == ("isom" if i % 2 == 0 else "mp42")
        assert boxes["ftyp"][8:12] == b"mp41"  # compatible brand
        moov_children = dict(walk_boxes(payload, start=28))
        ts, dur, next_track = parse_mvhd_v0(moov_children["mvhd"])
        assert ts == 600 + i * 100
        assert dur == 5000 + i * 997
        assert next_track == i % 3 + 2


def test_video_meta_matches_independent_parser():
    for i in range(12):
        payload = synth_mp4("isom", 90000, 1000 + i * 4391, i % 4 + 1)
        m = video_meta(payload)
        moov_children = dict(walk_boxes(payload, start=28))
        ts, dur, next_track = parse_mvhd_v0(moov_children["mvhd"])
        assert m.mime_type == "video/mp4"
        assert m.brand == "isom"
        assert m.timescale == ts == 90000
        assert m.duration_ms == dur * 1000 // ts
        assert m.n_tracks == next_track - 1


def test_video_meta_runtime_box_scan_tolerates_layout_drift():
    """mvhd is found by the runtime scan, not a fixed offset: inject a
    free box between ftyp and moov and the parse must still succeed."""
    raw = synth_mp4("mp42", 1000, 12345, 2)
    free = struct.pack(">I4s", 16, b"free") + b"\x00" * 8
    shifted = raw[:20] + free + raw[20:]
    # the independent walker agrees the shifted layout is still valid BMFF
    assert [t for t, _ in walk_boxes(shifted)] == ["ftyp", "free", "moov"]
    m = video_meta(shifted)
    assert m.mime_type == "video/mp4"
    assert m.brand == "mp42"
    assert m.timescale == 1000
    assert m.duration_ms == 12345 * 1000 // 1000
    assert m.n_tracks == 2


def test_video_meta_decoy_mvhd_before_moov_ignored():
    """The mvhd scan is moov-ANCHORED: 'mvhd' bytes appearing in data
    BEFORE the moov box (here: inside a free box payload) must not
    mislead the parse — and a MISALIGNED decoy cannot mask the real
    aligned tag either."""
    raw = synth_mp4("isom", 600, 54321, 3)
    # free box whose payload contains an ALIGNED decoy 'mvhd' + fake fields
    decoy_aligned = struct.pack(">I4s", 24, b"free") + b"mvhd" + b"\x99" * 12
    # free box whose payload contains a MISALIGNED decoy (offset by 1 byte)
    decoy_misaligned = struct.pack(">I4s", 24, b"free") + b"\x00mvhd" + b"\x88" * 11
    for decoy in (decoy_aligned, decoy_misaligned):
        shifted = raw[:20] + decoy + raw[20:]
        assert [t for t, _ in walk_boxes(shifted)] == ["ftyp", "free", "moov"]
        m = video_meta(shifted)
        assert m.mime_type == "video/mp4"
        assert m.timescale == 600
        assert m.duration_ms == 54321 * 1000 // 600
        assert m.n_tracks == 3


def test_video_meta_unknown_bytes_never_error():
    for payload in (b"\x00", b"", b"ftypnot at offset 5", b"not video at all"):
        m = video_meta(payload)
        assert m.mime_type == "application/octet-stream"
        assert m.brand is None
        assert m.timescale is None and m.duration_ms is None
        assert m.n_tracks is None


def test_sniff_mime_routes_mp4():
    mp4 = synth_mp4("isom", 600, 600, 1)
    cases = [
        (mp4, "video/mp4"),
        (b"xxxxftyp" + b"rest", "video/mp4"),  # any ftyp-at-5 container
        (b"ftyp at wrong offset", "application/octet-stream"),
    ]
    got = [sniff_mime(p) for p, _ in cases]
    assert got == [m for _, m in cases]


def test_sniff_mime_routes_bmff_brands():
    """ISO-BMFF major-brand routing: HEIC/AVIF stills and M4A audio must
    NOT fall through to the video pipeline (ADVICE r6); movie brands and
    unknown brands keep the documented video/mp4 default."""
    def bmff(brand: bytes) -> bytes:
        return b"\x00\x00\x00\x14ftyp" + brand + b"\x00\x00\x00\x00isom"

    cases = [
        (bmff(b"heic"), "image/heic"),
        (bmff(b"heix"), "image/heic"),
        (bmff(b"mif1"), "image/heif"),
        (bmff(b"msf1"), "image/heif"),
        (bmff(b"avif"), "image/avif"),
        (bmff(b"avis"), "image/avif"),
        (bmff(b"M4A "), "audio/mp4"),
        (bmff(b"M4B "), "audio/mp4"),
        (bmff(b"isom"), "video/mp4"),
        (bmff(b"mp42"), "video/mp4"),
        (bmff(b"qt  "), "video/mp4"),
    ]
    got = [sniff_mime(p) for p, _ in cases]
    assert got == [m for _, m in cases]
