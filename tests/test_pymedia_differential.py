"""Golden pins for multimodal/pymedia.py, the only implementation of the
five media metadata queries (image_meta / audio_meta / video_meta /
mime_sniff / media_catalog). No Spark session: every check is pure Python.

tests/fixtures/media_golden.json was frozen at commit
a32195155eb769292095eab0dcefa954f4c60163 from the expression-tree path
that commit still carried (multimodal/binary.py and the
``_*_payload_expr`` builders in queries_ext.py), which pymedia was ported
from. It holds two layers:

1. ``payload_md5``: the first 16 hex digits of md5(payload) for doc_id
   0..479 of every payload cycle. 480 ≥ 2 full parity cycles of the
   largest class (19 × 2 × 2), so every class AND every per-class parity
   branch is covered (k = d // cycle walks the decoy, Xing-vs-Info,
   ogg-full and EBML-doctype alternations).
2. ``parse``: the expression parsers' fields for 914 pymedia payloads
   (image 0..299, audio 0..199, media 0..199, mime 0..63, video 0..149)
   as ``[family, doc_id, sniff_mime, image_meta, audio_meta, video_meta,
   ebml_doctype, ebml_info, ebml_video_dims]``. A ``null`` tuple is a
   parser that did not recognize the payload: octet-stream (where the
   parser reports a mime) and all-NULL fields.

Generating snippet, run at that commit in a session ``spark``; ``mime``
and ``video`` are the two cycles rebuilt from binary.py synths in that
commit's test_mime_and_video_synth_cycles_match::

    ids = spark.range(480).select(F.col("id").alias("doc_id"))
    exprs = {"image": qe._image_payload_expr(),
             "audio": qe._audio_payload_expr(),
             "media": qe._media_payload_expr(),
             "mime": mime_expr, "video": video_expr}
    md5 = {fam: [hashlib.md5(bytes(r.p)).hexdigest()[:16] for r in
                 sorted(ids.select("doc_id", e.alias("p")).collect())]
           for fam, e in exprs.items()}
    payloads = [PAYLOADS[fam](d) for fam, d in parse_set]  # layer 2's 914
    df = spark.createDataFrame(list(enumerate(payloads)), "i int, payload binary")
    parsed = df.select("i", bx.sniff_mime("payload"), bx.image_meta("payload"),
                       bx.audio_meta("payload"), bx.video_meta("payload"),
                       bx.ebml_doctype("payload"), bx.ebml_info("payload"),
                       bx.ebml_video_dims("payload")).collect()

The independent pure-Python parsers in test_multimodal_{audio,ebml,video}
and test_operators check the same parsers from the other side."""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pytest

from crypto_market_tracker_etl_spark.multimodal import pymedia as pm

GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures", "media_golden.json")
PAYLOADS = {
    "image": pm.image_payload,
    "audio": pm.audio_payload,
    "media": pm.media_payload,
    "mime": pm.mime_payload,
    "video": pm.video_payload,
}
OCTET = "application/octet-stream"


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


def test_synth_bytes_match_golden(golden):
    digits = golden["md5_hex_digits"]
    for fam, digests in golden["payload_md5"].items():
        fn = PAYLOADS[fam]
        bad = [d for d, want in enumerate(digests)
               if hashlib.md5(fn(d)).hexdigest()[:digits] != want]
        assert not bad, f"{fam}: synth bytes diverge at doc_ids {bad[:5]}"
    assert set(golden["payload_md5"]) == set(PAYLOADS)


def test_parsers_match_golden(golden):
    def full(t, n, mime):
        if t is not None:
            return tuple(t)
        return (OCTET,) + (None,) * (n - 1) if mime else (None,) * n

    assert len(golden["parse"]) == 914
    for fam, d, mime, im, am, vm, dt, ei, ed in golden["parse"]:
        b = PAYLOADS[fam](d)
        where = (fam, d, b.hex()[:60])
        assert pm.sniff_mime(b) == mime, where
        assert pm.parse_image_meta(b) == full(im, 3, True), where
        assert pm.parse_audio_meta(b) == full(am, 6, True), where
        assert pm.parse_video_mp4(b) == full(vm, 5, True), where
        assert pm.ebml_doctype(b) == dt, where
        assert pm.ebml_info(b) == full(ei, 2, False), where
        assert pm.ebml_video_dims(b) == full(ed, 2, False), where


def test_out_of_range_header_ints_parse_as_null():
    """A header field the query's DDL column cannot hold parses as NULL,
    so one hostile blob cannot fail ``pa.array(..., pa.int32())`` and
    with it the whole batch."""

    def tiff_long_dims(w, h):
        entry = lambda tag, v: (tag.to_bytes(2, "little") + b"\x04\x00"  # noqa: E731
                                + b"\x01\x00\x00\x00" + v.to_bytes(4, "little"))
        return (b"II*\x00\x08\x00\x00\x00\x02\x00" + entry(256, w)
                + entry(257, h) + b"\x00" * 4)

    bmp = bytearray(pm.synth_bmp(10, 20))
    bmp[22:26] = (2**31).to_bytes(4, "little")  # INFO height -2^31
    wav = bytearray(pm.synth_wav(16000, 1, 16, 100))
    wav[24:28] = b"\xff" * 4  # sample_rate_hz 0xFFFFFFFF
    mp4 = pm.synth_mp4("isom", 600, 6000, 2**32 - 2)  # next_track_id 2^32-1
    cases = [
        (pm.parse_image_meta(tiff_long_dims(2**31, 2**32 - 1)),
         ("image/tiff", None, None)),
        (pm.parse_image_meta(pm.synth_png(2**31, 2**32 - 1)),
         ("image/png", None, None)),
        (pm.parse_image_meta(pm.synth_png(2**31 - 1, 7)),
         ("image/png", 2**31 - 1, 7)),  # the largest int still fits
        (pm.parse_image_meta(bytes(bmp)), ("image/bmp", 10, None)),
        (pm.parse_audio_meta(bytes(wav))[:3], ("audio/x-wav", 1, None)),
        (pm.parse_video_mp4(mp4), ("video/mp4", "isom", 600, 10000, None)),
    ]
    for got, want in cases:
        assert got == want
        pa.array([v for v in got if not isinstance(v, str)], pa.int32())
