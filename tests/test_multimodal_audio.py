"""The synthesized WAV headers are REAL: the stdlib ``wave`` module (an
independent RIFF reader) must parse the same parameters the engine's
parser (multimodal/pymedia.py) extracts — a differential test against a
third implementation, beyond the DuckDB oracle's analytic check of the
[audio_meta]/[mime_sniff] queries."""

from __future__ import annotations

import io
import wave
from collections import namedtuple

from crypto_market_tracker_etl_spark.multimodal import pymedia as pm
from crypto_market_tracker_etl_spark.multimodal.pymedia import (
    sniff_mime,
    synth_flac,
    synth_mp3,
    synth_ogg,
    synth_ogg_full,
    synth_wav,
)

AudioMeta = namedtuple(
    "AudioMeta",
    "mime_type channels sample_rate_hz bits_per_sample duration_ms bitrate_kbps",
)


def audio_meta(payload: bytes) -> AudioMeta:
    return AudioMeta(*pm.parse_audio_meta(payload))


def test_synth_wav_opens_with_stdlib_wave():
    for i in range(6):
        payload = synth_wav(8000 + i * 1000, i % 2 + 1, 16 if i % 2 == 0 else 8,
                            12345)
        wf = wave.open(io.BytesIO(payload))
        assert wf.getframerate() == 8000 + i * 1000
        assert wf.getnchannels() == i % 2 + 1
        assert wf.getsampwidth() == (2 if i % 2 == 0 else 1)
        assert wf.getnframes() == 12345


def test_audio_meta_matches_stdlib_wave():
    for i in range(10):
        payload = synth_wav(44100, 2, 16, 1000 + i * 997)
        m = audio_meta(payload)
        wf = wave.open(io.BytesIO(payload))
        assert m.mime_type == "audio/x-wav"
        assert m.channels == wf.getnchannels() == 2
        assert m.sample_rate_hz == wf.getframerate() == 44100
        assert m.bits_per_sample == wf.getsampwidth() * 8 == 16
        assert m.duration_ms == wf.getnframes() * 1000 // 44100


def test_audio_meta_unknown_bytes_never_error():
    for payload in (b"\x00", b"", b"RIFFxxxx", b"not audio at all"):
        m = audio_meta(payload)
        assert m.mime_type == "application/octet-stream"
        assert m.channels is None and m.duration_ms is None


def _py_flac_streaminfo(b: bytes):
    """Independent pure-Python FLAC STREAMINFO bit parser (the
    _py_jpeg_dims pattern). Returns (sr, ch, bps, total_samples) or
    None."""
    if b[0:4] != b"fLaC" or (b[4] & 0x7F) != 0:
        return None
    packed = int.from_bytes(b[18:26], "big")
    sr = packed >> 44
    ch = ((packed >> 41) & 0x7) + 1
    bps = ((packed >> 36) & 0x1F) + 1
    ts = packed & 0xFFFFFFFFF
    return (sr, ch, bps, ts)


def _py_mp3_header(b: bytes):
    """Independent pure-Python MP3 header decode behind the ID3v2 skip.
    Returns (sample_rate, channels) or None."""
    p = 0
    if b[0:3] == b"ID3":
        size = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
        p = 10 + size
    if len(b) < p + 4 or b[p] != 0xFF or (b[p + 1] >> 5) != 7:
        return None
    ver = (b[p + 1] >> 3) & 3
    layer = (b[p + 1] >> 1) & 3
    br_idx = b[p + 2] >> 4
    sr_idx = (b[p + 2] >> 2) & 3
    table = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
             0: (11025, 12000, 8000)}
    if ver not in table or sr_idx == 3 or layer == 0 or br_idx == 15:
        return None
    ch = 1 if (b[p + 3] >> 6) == 3 else 2
    return (table[ver][sr_idx], ch)


def test_synth_flac_roundtrip_and_independent_parser():
    """synth_flac emits bytes BOTH parsers read back exactly — including
    total-sample counts past 2^32, where the 36-bit field's nibble split
    would first betray a packing bug."""
    for i in range(1, 30):
        sr = 8000 + i * 997 % 100000
        ch, bps = i % 8 + 1, i % 28 + 4
        ts = i * 12345 + (i % 2) * 2**33
        payload = synth_flac(sr, ch, bps, ts)
        m = audio_meta(payload)
        assert _py_flac_streaminfo(payload) == (sr, ch, bps, ts), i
        assert (m.mime_type, m.channels, m.sample_rate_hz,
                m.bits_per_sample, m.duration_ms) == (
            "audio/flac", ch, sr, bps, ts * 1000 // sr,
        ), i


def test_synth_mp3_roundtrip_and_independent_parser():
    """synth_mp3 (bare and ID3v2-prefixed, pads past 127 exercising the
    multi-byte synchsafe size) reads back identically through the engine
    parser and the pure-Python reference; bits/duration stay NULL (the
    honest codec boundary)."""
    table = {0: (44100, 48000, 32000), 1: (22050, 24000, 16000),
             2: (11025, 12000, 8000)}
    for i in range(1, 30):
        vbits = (3, 2, 0)[i % 3]
        bare = synth_mp3(vbits, i * 7 % 3, i % 2 == 0)
        tagged = synth_mp3(vbits, i * 7 % 3, i % 2 == 0,
                           id3_pad=100 + i * 13 % 300)
        sr = table[i % 3][i * 7 % 3]
        ch = 1 if i % 2 == 0 else 2
        for p in (bare, tagged):
            assert _py_mp3_header(p) == (sr, ch), (p[:4], i)
            mm = audio_meta(p)
            assert (mm.mime_type, mm.channels, mm.sample_rate_hz) == (
                "audio/mpeg", ch, sr,
            ), (p[:4], i)
            assert mm.bits_per_sample is None and mm.duration_ms is None
        assert len(tagged) == 14 + 100 + i * 13 % 300


def _py_mp3_duration(b: bytes):
    """Independent pure-Python MP3 duration/bitrate estimate — the same
    two-tier policy every tag reader ships: Xing/Info frame count when
    present, else CBR byte-length arithmetic; None when the stream is
    shorter than one frame. Bitrate is None under a Xing tag (VBR — the
    nominal first-frame rate misdescribes it; r10 review) and the
    header rate under Info (LAME's CBR convention) or no tag. Returns
    (kbps, duration_ms) or None."""
    hdr = _py_mp3_header(b)
    if hdr is None:
        return None
    p = 0
    if b[0:3] == b"ID3":
        p = 10 + ((b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9])
    ver = (b[p + 1] >> 3) & 3
    layer = (b[p + 1] >> 1) & 3
    if layer != 1:  # Layer III only
        return None
    br_idx = b[p + 2] >> 4
    if br_idx == 0:
        return None
    v1 = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    v2 = (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
    kbps = (v1 if ver == 3 else v2)[br_idx - 1]
    sr = hdr[0]
    spf = 1152 if ver == 3 else 576
    mono = (b[p + 3] >> 6) == 3
    si = (17 if mono else 32) if ver == 3 else (9 if mono else 17)
    tag_at = p + 4 + si
    if b[tag_at : tag_at + 4] in (b"Xing", b"Info"):
        tag_kbps = None if b[tag_at : tag_at + 4] == b"Xing" else kbps
        flags = int.from_bytes(b[tag_at + 4 : tag_at + 8], "big")
        if flags & 1:
            frames = int.from_bytes(b[tag_at + 8 : tag_at + 12], "big")
            return (tag_kbps, frames * spf * 1000 // sr)
        return (tag_kbps, None)
    audio_bytes = len(b) - p
    frame_size = spf // 8 * kbps * 1000 // sr + ((b[p + 2] >> 1) & 1)
    if audio_bytes < frame_size:
        return (kbps, None)
    return (kbps, audio_bytes * 8 // kbps)


def test_mp3_cbr_and_xing_duration():
    """The r10 duration tiers: a CBR body (duration from byte length ×
    bitrate), a Xing VBR tag (duration from the exact frame count,
    overriding the byte estimate), and an ID3-tagged CBR body (the tag
    bytes must NOT count as audio). The engine parse and the independent
    pure-Python estimator agree bit-exactly; bodiless headers keep the
    honest NULL."""
    for i in range(1, 30):
        vbits, sr_idx, mono = (3, 2, 0)[i % 3], i * 7 % 3, i % 2 == 0
        payloads = {
            "cbr": synth_mp3(vbits, sr_idx, mono, n_frames=40 + i * 3),
            "vbr": synth_mp3(vbits, sr_idx, mono, xing_frames=900 + i * 31),
            # "Info": CBR by convention
            "info_cbr": synth_mp3(vbits, sr_idx, mono, xing_frames=700 + i * 17,
                                  vbr_sig=b"Info"),
            "tagged_cbr": synth_mp3(vbits, sr_idx, mono,
                                    id3_pad=100 + i * 13 % 300, n_frames=25),
        }
        got = {k: audio_meta(p) for k, p in payloads.items()}
        for k, p in payloads.items():
            kbps, dur = _py_mp3_duration(p)
            assert (got[k].bitrate_kbps, got[k].duration_ms) == (kbps, dur), (
                k, i, (got[k].bitrate_kbps, got[k].duration_ms), (kbps, dur),
            )
            assert got[k].duration_ms is not None, (k, i)
        # the policy itself, pinned explicitly: Xing → VBR → NULL rate;
        # Info → CBR → header rate
        assert got["vbr"].bitrate_kbps is None
        assert got["info_cbr"].bitrate_kbps is not None


def test_mp3_xing_without_frame_count_stays_null():
    """A Xing tag whose flags clear the frames bit carries no count —
    duration must stay NULL (not fall through to a CBR estimate over
    VBR bytes: that is the lie the tag exists to prevent)."""
    # MPEG1 Layer III, 44100, stereo, idx 9 (128 kbps), side info 32
    hdr = bytes([0xFF, 0xFB, 0x90, 0x40])
    xing_noframes = (
        hdr + b"\x00" * 32 + b"Xing" + b"\x00\x00\x00\x00" + b"\x00" * 400
    )
    m = audio_meta(xing_noframes)
    assert m.mime_type == "audio/mpeg" and m.bitrate_kbps is None  # VBR
    assert m.duration_ms is None
    assert _py_mp3_duration(xing_noframes) == (None, None)


def test_audio_malformed_flac_mp3_never_error():
    """A FLAC whose first block is not STREAMINFO, an ID3 tag with no
    frame behind it, and a desynced bare header all yield NULL fields
    (mime still routed) — the image_meta contract."""
    cases = {
        # fLaC + first block type 4 (VORBIS_COMMENT): no STREAMINFO first
        1: (b"fLaC\x04\x00\x00\x22" + b"\x00" * 34, "audio/flac"),
        # ID3 tag, size 5, then junk that is not a frame header
        2: (b"ID3\x04\x00\x00\x00\x00\x00\x05" + b"\x00" * 5 + b"junk",
            "audio/mpeg"),
        # bare FF but second byte fails the sync mask
        3: (bytes([0xFF, 0x1B, 0x90, 0x40]), "application/octet-stream"),
        # 11-bit sync holds but every field is reserved (all-ones blob):
        # must NOT register as MPEG audio (review r9)
        4: (b"\xff" * 8, "application/octet-stream"),
        # sync + valid version/layer but reserved bitrate (1111)
        5: (bytes([0xFF, 0xFB, 0xF0, 0x40]), "application/octet-stream"),
    }
    got = {k: audio_meta(p) for k, (p, _) in cases.items()}
    for k, (_, mime) in cases.items():
        assert got[k].mime_type == mime, k
        assert got[k].channels is None and got[k].sample_rate_hz is None, k
        assert got[k].bits_per_sample is None and got[k].duration_ms is None, k


def test_sniff_mime_signatures():
    cases = [
        (bytes.fromhex("FFD8FFE0") + b"rest", "image/jpeg"),
        (b"fLaC\x00\x00\x00\x22" + b"\x00" * 34, "audio/flac"),
        (b"ID3\x04\x00\x00\x00\x00\x00\x05", "audio/mpeg"),
        (bytes([0xFF, 0xFB, 0x92, 0x40]), "audio/mpeg"),
        (b"\xff" * 8, "application/octet-stream"),  # reserved fields
        (b"%PDF-1.7 ...", "application/pdf"),
        (bytes.fromhex("504B0304") + b"zip", "application/zip"),
        (bytes.fromhex("1F8B08"), "application/gzip"),
        (b"plain text", "application/octet-stream"),
        (b"RIFF1234WAVEfmt rest", "audio/x-wav"),
        # broadcast-WAV shape: bext/LIST chunks precede "fmt " — the ROUTER
        # must still send it to the audio pipeline (the fixed-layout
        # audio_meta parser separately NULLs non-canonical layouts)
        (b"RIFF1234WAVEbext" + b"\x00" * 8, "audio/x-wav"),
        (b"RIFF1234AVI LIST", "application/octet-stream"),  # RIFF-not-WAVE
        (b"", "application/octet-stream"),
    ]
    got = [sniff_mime(p) for p, _ in cases]
    assert got == [m for _, m in cases]


def _py_ogg_vorbis(b: bytes):
    """Independent pure-Python Ogg Vorbis id-header parse: page header →
    segment-count hop → packet fields. None when not an Ogg page or the
    first packet is not a Vorbis id header."""
    import struct

    if b[:4] != b"OggS" or len(b) < 28:
        return None
    n_segs = b[26]
    p = 27 + n_segs
    if b[p : p + 7] != b"\x01vorbis":
        return None
    ch = b[p + 11]
    sr = struct.unpack("<I", b[p + 12 : p + 16])[0]
    nominal = struct.unpack("<i", b[p + 20 : p + 24])[0]
    kbps = nominal // 1000 if 0 < nominal else None
    return (ch, sr, kbps)


def _py_ogg_duration_ms(b: bytes):
    """Independent pure-Python Ogg page WALK — not a tail scan: hops
    page to page via the real lacing values (27-byte header + segment
    table + summed segment lengths), tracking the granule of the page
    that carries the EOS flag. Returns duration_ms from that granule
    and the id header's sample rate, or None when the stream has no
    well-formed EOS page (header-only slices, truncations). Because it
    walks structurally, it also validates the SYNTH's page sizes — a
    synth whose lacing doesn't match its body would break the walk."""
    info = _py_ogg_vorbis(b)
    if info is None or not info[1]:
        return None
    sr = info[1]
    p, eos_granule = 0, None
    while p + 27 <= len(b):
        if b[p : p + 4] != b"OggS" or b[p + 4] != 0:
            return None  # walk landed off a page boundary: malformed
        import struct

        typ = b[p + 5]
        granule = struct.unpack("<q", b[p + 6 : p + 14])[0]
        n_segs = b[p + 26]
        seg_table = b[p + 27 : p + 27 + n_segs]
        if len(seg_table) < n_segs:
            return None
        if typ & 0x04:
            eos_granule = granule
        p += 27 + n_segs + sum(seg_table)
    if p != len(b) or eos_granule is None or eos_granule <= 0:
        return None
    return eos_granule * 1000 // sr


def test_ogg_full_file_duration():
    """r11 Ogg duration: a full synthesized Vorbis file (BOS id page +
    middle audio page + EOS page) yields duration_ms from the LAST
    page's granule; the engine's tail-locate must agree with the
    independent pure-Python page WALKER on every payload, and the
    header-only slice in the same batch stays honestly NULL."""
    full = header_only = 0
    for i in range(1, 40):
        sr = (8000, 22050, 44100, 48000)[i % 4]
        ch, kbps = i % 2 + 1, 48 + i * 13 % 400
        gran = sr * (2 + i % 17) + i * 331 % 997
        ogg = (synth_ogg(sr, ch, kbps) if i % 3 == 2
               else synth_ogg_full(sr, ch, kbps, gran))
        m = audio_meta(ogg)
        want = _py_ogg_duration_ms(ogg)
        assert m.duration_ms == want, (i, want)
        assert m.mime_type == "audio/ogg"
        if i % 3 == 2:
            assert want is None
            header_only += 1
        else:
            assert want is not None and want > 0
            full += 1
    assert full > 0 and header_only > 0


def test_ogg_tail_guards_reject_fakes():
    """The tail locate trusts a granule only behind structural guards:
    an appended data blob that SPELLS 'OggS' but has a nonzero version
    byte, undefined type bits, a missing EOS flag, or an absurd granule
    must leave duration NULL rather than misreport it — and must not
    shadow anything (these candidates are LAST, so a weaker parser
    would read them)."""
    import struct

    def fake(ver, typ, granule):
        return (
            b"OggS" + bytes([ver, typ]) + struct.pack("<q", granule)
            + b"\x01\x00\x00\x00" + b"\x03\x00\x00\x00"
            + b"\x00\x00\x00\x00" + b"\x01\x05" + b"\x00" * 5
        )

    hdr = synth_ogg(44100, 2, 96)
    cases = [
        (1, hdr + fake(1, 4, 44100)),  # bad version byte
        (2, hdr + fake(0, 0x44, 44100)),  # undefined type bit
        (3, hdr + fake(0, 0, 44100)),  # no EOS flag (plain data page)
        (4, hdr + fake(0, 4, -1)),  # granule -1: "no packet ends here"
        (5, hdr + fake(0, 4, 2**60)),  # absurd granule
        (6, hdr + fake(0, 4, 44100)),  # control: this one IS trusted
    ]
    got = {k: audio_meta(p).duration_ms for k, p in cases}
    assert got == {1: None, 2: None, 3: None, 4: None, 5: None, 6: 1000}


def test_ogg_vorbis_roundtrip():
    """r10 Ogg Vorbis: channels / sample rate / declared nominal
    bitrate from the id header behind the one-hop page-segment offset;
    duration honestly NULL (it lives in the LAST page's granule). Engine
    parse ≡ the independent pure-Python reference."""
    for i in range(1, 30):
        sr = (8000, 22050, 44100, 48000)[i % 4]
        ogg = synth_ogg(sr, i % 2 + 1, 48 + i * 13 % 400)
        m = audio_meta(ogg)
        got = (m.channels, m.sample_rate_hz, m.bitrate_kbps)
        assert got == _py_ogg_vorbis(ogg), i
        assert m.mime_type == "audio/ogg" and sniff_mime(ogg) == "audio/ogg"
        assert m.duration_ms is None  # honest: needs last page
        assert m.bits_per_sample is None  # not a Vorbis concept


def test_ogg_non_vorbis_routes_with_null_fields():
    """A real Ogg page whose first packet is NOT a Vorbis id header —
    an Opus stream ("OpusHead") and a bare data page — still routes
    audio/ogg (container-level) with NULL fields; a truncated page
    never errors."""
    page = (
        b"OggS" + b"\x00\x02" + b"\x00" * 8 + b"\x01\x00\x00\x00"
        + b"\x00" * 8 + b"\x01\x13"
    )
    cases = [
        (1, page + b"OpusHead\x01\x02\x38\x01\x80\xbb\x00\x00\x00\x00\x00"),
        (2, page + b"\x00" * 19),  # data bytes, no id header
        (3, b"OggS\x00"),  # truncated mid page header
    ]
    for k, p in cases:
        m = audio_meta(p)
        assert sniff_mime(p) == "audio/ogg", k
        assert m.mime_type == "audio/ogg"
        assert m.channels is None
        assert m.sample_rate_hz is None
        assert m.bitrate_kbps is None
