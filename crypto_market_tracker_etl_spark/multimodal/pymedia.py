"""Pure-Python synth + parse for the five media metadata queries
(image_meta / audio_meta / video_meta / mime_sniff / media_catalog),
executed via ``mapInArrow`` — the package's only media-header
implementation.

A ``mapInArrow`` pipeline has a constant, tiny plan — scan → MapInArrow
— and does the byte-level synth + parse work per row in the worker. It
replaced expression-tree versions that paid hundreds of py4j round-trips
and JVM analysis + codegen of a giant projection per query BUILD, and
ran ~7× slower per row at 1M-4M docs (SCALE.md §media-throughput).

WHAT IS PINNED. The oracle specifies every output analytically, so a
port that computed outputs from the doc_id formulas would delete the
workload (synthesize + parse real bytes) these queries attest. Both
halves stay real and both are pinned:

* synths build genuine container bytes; tests/fixtures/media_golden.json
  pins every payload class and parity branch by md5
  (tests/test_pymedia_differential.py);
* parsers do real magic-gated header parsing — bounded walks, honest
  NULLs, never an error (jpeg SOF walk, TIFF IFD walk + one next-IFD
  hop, WebP chunk walk with canvas fallback, HEIF box descent, MP3
  ID3/Xing rules, Ogg tail granule, MP4 moov-anchored mvhd, EBML vint
  walks with track pop-up). The same fixture pins their fields, and the
  independent pure-Python parsers in tests/test_multimodal_*.py and
  tests/test_operators.py check them from the other side;
* a header value its DDL column cannot hold parses as NULL
  (``_ddl_fit``), so one hostile blob cannot fail a batch.

The per-task boundary cost is bounded: only ``doc_id`` crosses into
Python (8 bytes/row) and the output rows cross back — the payloads are
synthesized AND parsed inside the worker, so the heavy bytes never move
(guide §4.1: pass only the columns the function needs).
"""

from __future__ import annotations

import functools
import struct
from typing import Callable, Iterator

import pyarrow as pa

# ---------------------------------------------------------------------------
# shared tables
# ---------------------------------------------------------------------------

MP3_SR_TABLE = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
                0: (11025, 12000, 8000)}
MP3_KBPS_V1L3 = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
MP3_KBPS_V2L3 = (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
OGG_TAIL_BYTES = 65536

_be16 = lambda n: struct.pack(">H", n)  # noqa: E731
_be32 = lambda n: struct.pack(">I", n)  # noqa: E731
_be64 = lambda n: struct.pack(">Q", n)  # noqa: E731
_le16 = lambda n: struct.pack("<H", n)  # noqa: E731
_le32 = lambda n: struct.pack("<I", n)  # noqa: E731
_le24 = lambda n: bytes((n & 255, (n >> 8) & 255, (n >> 16) & 255))  # noqa: E731


def _rd_be(b: bytes, pos: int, n: int) -> int | None:
    """Big-endian uint at 0-based pos; None when the slice is short
    (a truncated header field reads as NULL)."""
    if pos < 0 or pos + n > len(b):
        return None
    return int.from_bytes(b[pos:pos + n], "big")


def _rd_le(b: bytes, pos: int, n: int) -> int | None:
    if pos < 0 or pos + n > len(b):
        return None
    return int.from_bytes(b[pos:pos + n], "little")


def _ddl_fit(*bits: int) -> Callable:
    """Parser decorator: each returned field whose DDL column cannot hold
    it comes back None (``bits`` per field: 32 = int, 64 = bigint, 0 =
    not an int). A 4-byte header field can carry 2^32 - 1; passed on,
    that one blob would make ``pa.array(..., pa.int32())`` fail its
    whole batch."""
    def wrap(parse: Callable) -> Callable:
        @functools.wraps(parse)
        def fitted(b: bytes) -> tuple:
            return tuple(
                None if n and v is not None
                and not -(1 << (n - 1)) <= v < 1 << (n - 1) else v
                for v, n in zip(parse(b), bits))
        return fitted
    return wrap


# ---------------------------------------------------------------------------
# synths — genuine container bytes (golden-pinned)
# ---------------------------------------------------------------------------


def synth_png(w: int, h: int) -> bytes:
    return (b"\x89PNG\r\n\x1a\n" + _be32(13) + b"IHDR" + _be32(w) + _be32(h)
            + bytes.fromhex("0806000000"))


def synth_gif(w: int, h: int) -> bytes:
    return b"GIF89a" + _le16(w) + _le16(h) + b"\xf7\x00\x00"


def synth_jpeg(w: int, h: int) -> bytes:
    return (b"\xff\xd8"
            + bytes.fromhex("FFE0" "0010" "4A46494600" "0101" "00" "0048"
                            "0048" "0000")
            + bytes.fromhex("FFDB" "0005" "00" "1122")
            + bytes.fromhex("FFC0" "000B" "08")
            + _be16(h) + _be16(w)
            + bytes.fromhex("01" "011100"))


def synth_webp_vp8(w: int, h: int) -> bytes:
    return (b"RIFF" + _le32(22) + b"WEBPVP8 " + _le32(10)
            + b"\x90\x02\x00" + bytes.fromhex("9D012A") + _le16(w) + _le16(h))


def synth_webp_vp8l(w: int, h: int) -> bytes:
    bits = (w - 1) | ((h - 1) << 14)
    return b"RIFF" + _le32(17) + b"WEBPVP8L" + _le32(5) + b"\x2f" + _le32(bits)


def synth_webp_vp8x(w: int, h: int) -> bytes:
    return (b"RIFF" + _le32(22) + b"WEBPVP8X" + _le32(10)
            + b"\x00\x00\x00\x00" + _le24(w - 1) + _le24(h - 1))


def synth_webp_vp8x_wrapped(cw: int, ch: int, w: int, h: int) -> bytes:
    vp8x = (b"VP8X" + _le32(10) + b"\x00\x00\x00\x00"
            + _le24(cw - 1) + _le24(ch - 1))
    iccp = b"ICCP" + _le32(4) + b"\x00\x00\x00\x00"
    bits = (w - 1) | ((h - 1) << 14)
    stream = b"VP8L" + _le32(5) + b"\x2f" + _le32(bits)
    return b"RIFF" + _le32(47) + b"WEBP" + vp8x + iccp + stream


def synth_tiff(w: int, h: int, little_endian: bool = True,
               dims_in_ifd1: bool = False) -> bytes:
    i16 = _le16 if little_endian else _be16
    i32 = _le32 if little_endian else _be32
    sig = bytes.fromhex("49492A00" if little_endian else "4D4D002A")
    entry = lambda tag, val: (i16(tag) + i16(3) + i32(1) + i16(val)  # noqa: E731
                              + b"\x00\x00")
    if dims_in_ifd1:
        return (sig + i32(8) + i16(2) + entry(259, 1) + entry(296, 2)
                + i32(38) + i16(2) + entry(256, w) + entry(257, h) + i32(0))
    return sig + i32(8) + i16(2) + entry(256, w) + entry(257, h) + i32(0)


def synth_bmp(w: int, h: int, top_down: bool = False,
              core: bool = False) -> bytes:
    if core:
        return (b"BM" + _le32(26) + b"\x00" * 4 + _le32(26) + _le32(12)
                + _le16(w) + _le16(h) + _le16(1) + _le16(24))
    h_raw = (4294967296 - h) if top_down else h
    return (b"BM" + _le32(54) + b"\x00" * 4 + _le32(54) + _le32(40)
            + _le32(w) + _le32(h_raw) + _le16(1) + _le16(24) + b"\x00" * 24)


def synth_heic(brand: str, w: int, h: int, decoy: bool = False) -> bytes:
    decoy_b = (_be32(20) + b"ispe" + _be32(0) + _be32(w + 9999)
               + _be32(h + 9999)) if decoy else b""
    pad = 20 if decoy else 0
    return (_be32(20) + b"ftyp" + brand.encode("ascii") + _be32(0) + b"mif1"
            + _be32(81 + pad) + b"meta" + _be32(0)
            + _be32(33 + pad) + b"hdlr" + _be32(0) + _be32(0) + b"pict"
            + b"\x00" * 12 + b"\x00" + decoy_b
            + _be32(36) + b"iprp" + _be32(28) + b"ipco"
            + _be32(20) + b"ispe" + _be32(0) + _be32(w) + _be32(h))


def synth_wav(sr: int, ch: int, bits: int, n_frames: int) -> bytes:
    block = ch * bits // 8
    data = n_frames * block
    return (b"RIFF" + _le32(data + 36) + b"WAVEfmt " + _le32(16) + _le16(1)
            + _le16(ch) + _le32(sr) + _le32(sr * block) + _le16(block)
            + _le16(bits) + b"data" + _le32(data))


def synth_flac(sr: int, ch: int, bits: int, total36: int) -> bytes:
    g24 = sr * 16 + (ch - 1) * 2 + (bits - 1) // 16
    b4 = ((bits - 1) % 16) * 16 + total36 // 4294967296
    return (b"fLaC" + bytes.fromhex("80" "000022") + bytes.fromhex("10001000")
            + b"\x00" * 6 + g24.to_bytes(3, "big") + bytes((b4,))
            + _be32(total36 % 4294967296) + b"\x00" * 16)


def synth_ogg(sr: int, ch: int, nominal_kbps: int) -> bytes:
    packet = (b"\x01vorbis" + _le32(0) + bytes((ch,)) + _le32(sr)
              + _le32(0) + _le32(nominal_kbps * 1000) + _le32(0)
              + b"\xb8\x01")
    return (b"OggS" + b"\x00\x02" + b"\x00" * 8 + _le32(1) + _le32(0)
            + _le32(0) + b"\x01\x1e" + packet)


def _ogg_page(header_type: int, granule: int, page_seq: int,
              body: int) -> bytes:
    return (b"OggS" + bytes((0, header_type)) + struct.pack("<q", granule)
            + _le32(1) + _le32(page_seq) + _le32(0) + bytes((1, body))
            + b"\x00" * body)


def synth_ogg_full(sr: int, ch: int, nominal_kbps: int, granule: int) -> bytes:
    return (synth_ogg(sr, ch, nominal_kbps)
            + _ogg_page(0, granule // 2, 1, 10)
            + _ogg_page(4, granule, 2, 10))


def _mp3_frame_size(vbits: int, sr_idx: int) -> int:
    sr = MP3_SR_TABLE[vbits][sr_idx]
    kbps = 128 if vbits == 3 else 80  # bitrate index 9, Layer III
    spf = 1152 if vbits == 3 else 576
    return spf // 8 * kbps * 1000 // sr


def synth_mp3(vbits: int, sr_idx: int, mono: bool, id3_pad: int | None = None,
              n_frames: int | None = None, xing_frames: int | None = None,
              vbr_sig: bytes = b"Xing") -> bytes:
    h2 = 0xE0 + vbits * 8 + 1 * 2 + 1
    h3 = 9 * 16 + sr_idx * 4
    h4 = 0xC0 if mono else 0x40
    frame = bytes((0xFF, h2, h3, h4))
    if n_frames is not None:
        frame += b"\x00" * (n_frames * _mp3_frame_size(vbits, sr_idx) - 4)
    elif xing_frames is not None:
        side = (17 if mono else 32) if vbits == 3 else (9 if mono else 17)
        frame += b"\x00" * side + vbr_sig + _be32(1) + _be32(xing_frames)
    if id3_pad is None:
        return frame
    tag = (b"ID3" + bytes.fromhex("040000")
           + bytes(((id3_pad >> 21) % 128, (id3_pad >> 14) % 128,
                    (id3_pad >> 7) % 128, id3_pad % 128))
           + b"\x00" * id3_pad)
    return tag + frame


_MP4_TAIL = (bytes.fromhex("00010000" "0100" "0000")
             + b"\x00" * 8
             + bytes.fromhex("000100000000000000000000"
                             "000000000001000000000000"
                             "000000000000000040000000")
             + b"\x00" * 24)


def synth_mp4(brand: str, ts: int, dur: int, n_tracks: int,
              version1: bool = False) -> bytes:
    if version1:
        mvhd = (_be32(120) + b"mvhd" + bytes.fromhex("01000000")
                + b"\x00" * 16 + _be32(ts) + _be64(dur))
        moov_size = 128
    else:
        mvhd = (_be32(108) + b"mvhd" + _be32(0) + b"\x00" * 8
                + _be32(ts) + _be32(dur))
        moov_size = 116
    return (_be32(20) + b"ftyp" + brand.encode("ascii")
            + bytes.fromhex("00000200") + b"mp41"
            + _be32(moov_size) + b"moov" + mvhd + _MP4_TAIL
            + _be32(n_tracks + 1))


def _f64(v: int) -> bytes:
    # exact for 1 <= v < 2^53 — the synth contract (_f64_hex)
    return struct.pack(">d", float(v))


def synth_mkv(doctype: str, tscale: int, duration_units: int, w: int, h: int,
              audio_first: bool = False) -> bytes:
    dt = doctype.encode("ascii")
    hdr_children = (bytes.fromhex("4286" "81" "01" "42F7" "81" "01"
                                  "42F2" "81" "04" "42F3" "81" "08")
                    + bytes.fromhex("4282") + bytes((0x80 + len(dt),)) + dt
                    + bytes.fromhex("4287" "81" "02" "4285" "81" "02"))
    hdr_body = 27 + len(dt)
    info = (bytes.fromhex("1549A966") + bytes((0x80 + 19,))
            + bytes.fromhex("2AD7B1") + b"\x84" + _be32(tscale)
            + bytes.fromhex("4489") + b"\x88" + _f64(duration_units))
    vnum = 2 if audio_first else 1
    vte = (b"\xae" + bytes((0x80 + 16,))
           + b"\xd7\x81" + bytes((vnum,)) + b"\x83\x81\x01"
           + b"\xe0" + bytes((0x80 + 8,))
           + b"\xb0\x82" + _be16(w) + b"\xba\x82" + _be16(h))
    ate = (b"\xae" + bytes((0x80 + 14,)) + b"\xd7\x81\x01" + b"\x83\x81\x02"
           + b"\xe1\x86" + b"\xb5\x84" + bytes.fromhex("473B8000"))
    tracks_body = (16 if audio_first else 0) + 18
    seg_body = 24 + 5 + tracks_body
    return (bytes.fromhex("1A45DFA3") + bytes((0x80 + hdr_body,))
            + hdr_children
            + bytes.fromhex("18538067") + _be16(0x4000 + seg_body)
            + info
            + bytes.fromhex("1654AE6B") + bytes((0x80 + tracks_body,))
            + (ate if audio_first else b"") + vte)


# ---------------------------------------------------------------------------
# per-query payload cycles (the oracle SQL replays these formulas)
# ---------------------------------------------------------------------------


def image_payload(d: int) -> bytes:
    m = d % 14
    w = 100 + d % 800
    h = 100 + (d * 7) % 800
    if m == 0:
        return synth_png(w, h)
    if m == 1:
        return synth_gif(w, h)
    if m == 2:
        return synth_jpeg(w, h)
    if m == 3:
        return synth_webp_vp8(w, h)
    if m == 4:
        return synth_webp_vp8l(w, h)
    if m == 5:
        return synth_webp_vp8x(w, h)
    if m == 6:
        return synth_tiff(w, h, little_endian=True)
    if m == 7:
        return synth_tiff(w, h, little_endian=False)
    if m == 8:
        return synth_tiff(w, h, little_endian=True, dims_in_ifd1=True)
    if m == 9:
        return synth_webp_vp8x_wrapped(w + 1, h + 1, w, h)
    if m == 10:
        return synth_bmp(w, h, top_down=(d // 14) % 2 == 1)
    if m == 11:
        return synth_bmp(w, h, core=True)
    brand = "heic" if m == 12 else "avif"
    return synth_heic(brand, w, h, decoy=(d // 14) % 2 == 1)


def audio_payload(d: int) -> bytes:
    m = d % 9
    k = d // 9
    sr = (8000, 16000, 22050, 44100)[k % 4]
    ch = k % 2 + 1
    bits = 16 if k % 3 == 0 else 8
    frames = 1000 + (d * 37) % 44100
    ts36 = frames + (k % 2) * 2 ** 33
    vbits = (3, 2, 0)[k % 3]
    sr_idx = (k // 3) % 3
    mono = k % 2 == 0
    if m == 2:
        return synth_flac(sr, ch, bits, ts36)
    if m == 3:
        return synth_mp3(vbits, sr_idx, mono)
    if m == 4:
        return synth_mp3(vbits, sr_idx, mono, id3_pad=100 + d % 300)
    if m == 5:
        return synth_png(320, 240)
    if m == 6:
        return synth_mp3(vbits, sr_idx, mono, n_frames=20 + (d * 13) % 80)
    if m == 7:
        return synth_mp3(vbits, sr_idx, mono,
                         xing_frames=500 + (d * 31) % 2000,
                         vbr_sig=b"Xing" if k % 2 == 0 else b"Info")
    if m == 8:
        kbps = 64 + (k * 7) % 256
        if k % 2 == 0:
            return synth_ogg(sr, ch, kbps)
        return synth_ogg_full(sr, ch, kbps, sr * (5 + k % 20) + d % 1000)
    return synth_wav(sr, ch, bits, frames)


def mime_payload(d: int) -> bytes:
    m = d % 16
    w = 100 + d % 800
    h = 100 + (d * 7) % 800
    if m == 0:
        return synth_png(w, h)
    if m == 1:
        return synth_gif(w, h)
    if m == 2:
        return synth_wav(16000, 1, 16, 16000)
    if m == 3:
        return synth_mp4("isom", 600, 6000, 1)
    if m == 4:
        return bytes.fromhex("FFD8FFE000104A464946")
    if m == 5:
        return bytes.fromhex("255044462D312E34")
    if m == 6:
        return bytes.fromhex("504B03041400")
    if m == 7:
        return bytes.fromhex("1F8B08000000")
    if m == 8:
        return synth_mp4("heic", 600, 6000, 1)
    if m == 9:
        return synth_mp4("M4A ", 600, 6000, 1)
    if m == 10:
        return synth_webp_vp8(w, h)
    if m == 11:
        return synth_tiff(w, h, little_endian=False)
    if m == 12:
        return synth_flac(44100, 2, 16, 44100)
    if m == 13:
        return synth_mp3(3, 0, False)
    if m == 14:
        return synth_bmp(w, h)
    return synth_ogg(48000, 2, 160)


def video_payload(d: int) -> bytes:
    ts = (600, 1000, 30000, 90000)[d % 4]
    dur = 1000 + (d * 53) % 900000
    dur64 = dur + (d % 2) * 2 ** 33
    edur = dur + ((d // 10) % 2) * 2 ** 33
    tracks = d % 3 + 1
    brand = "isom" if d % 2 == 0 else "mp42"
    ew = 320 + (d * 3) % 1600
    eh = 240 + (d * 7) % 840
    is_wav_row = d % 7 == 6
    is_ebml_row = (d % 5 == 2) and not is_wav_row
    if is_wav_row:
        return synth_wav(16000, 1, 16, 16000)
    if is_ebml_row and d % 2 == 0:
        return synth_mkv("webm", 1000000, edur, ew, eh)
    if is_ebml_row:
        return synth_mkv("matroska", 500000, edur, ew, eh, audio_first=True)
    if d % 3 == 1:
        return synth_mp4(brand, ts, dur64, tracks, version1=True)
    return synth_mp4(brand, ts, dur, tracks)


def media_payload(d: int) -> bytes:
    m = d % 19
    w = 100 + d % 800
    h = 100 + (d * 7) % 800
    frames = 16000 + (d * 11) % 8000
    dur = 1000 + d % 60000
    tracks = d % 2 + 1
    if m == 0:
        return synth_png(w, h)
    if m == 1:
        return synth_gif(w, h)
    if m == 2:
        return synth_wav(16000, 1, 16, frames)
    if m == 3:
        return synth_mp4("isom", 1000, dur, tracks)
    if m == 4:
        return synth_jpeg(w, h)
    if m == 5:
        return bytes.fromhex("255044462D312E34")
    if m == 6:
        return bytes.fromhex("504B03041400")
    if m == 7:
        return bytes.fromhex("1F8B08000000")
    if m == 8:
        return synth_webp_vp8(w, h)
    if m == 9:
        return synth_tiff(w, h, little_endian=True)
    if m == 10:
        return synth_flac(22050, 2, 16, frames)
    if m == 11:
        return synth_mp3(3, 0, False, id3_pad=100 + d % 300)
    if m == 12:
        return synth_tiff(w, h, little_endian=False, dims_in_ifd1=True)
    if m == 13:
        return synth_webp_vp8x_wrapped(w + 1, h + 1, w, h)
    if m == 14:
        return synth_mp3(3, 0, False, n_frames=20 + (d * 13) % 80)
    if m == 15:
        return synth_bmp(w, h)
    if m == 16:
        kbps = 64 + (d * 7) % 256
        if (d // 19) % 2 == 0:
            return synth_ogg(48000, 2, kbps)
        return synth_ogg_full(48000, 2, kbps,
                              48000 * (2 + (d // 19) % 15) + d % 997)
    if m == 17:
        return synth_heic("heic", w, h)
    if (d // 19) % 2 == 0:
        return synth_mkv("webm", 1000000, dur, w, h)
    return synth_mkv("matroska", 1000000, dur, w, h, audio_first=True)


# ---------------------------------------------------------------------------
# parsers — real magic-gated header parsing (bounded walks, honest
# NULLs, never an error)
# ---------------------------------------------------------------------------

_PNG = b"\x89PNG\r\n\x1a\n"
_HEIC_BRANDS = {b"heic", b"heix"}
_HEIF_BRANDS = {b"mif1", b"msf1"}
_AVIF_BRANDS = {b"avif", b"avis"}


def _mp3_frame_pos(b: bytes) -> int:
    """0-based first-frame position: 0, or past the ID3v2 synchsafe tag."""
    if b[:3] == b"ID3" and len(b) >= 10:
        return (b[6] * 2097152 + b[7] * 16384 + b[8] * 128 + b[9]) + 10
    return 0


def _mp3_sync(b: bytes) -> bool:
    p = _mp3_frame_pos(b)
    if p + 4 > len(b):
        return False
    h1, h2, h3 = b[p], b[p + 1], b[p + 2]
    ver, layer = (h2 >> 3) % 4, (h2 >> 1) % 4
    br_idx, sr_idx = h3 >> 4, (h3 >> 2) % 4
    return (h1 == 0xFF and (h2 >> 5) == 7 and ver != 1 and layer != 0
            and br_idx != 15 and sr_idx != 3)


def _ebml_id_len(b: bytes, q: int) -> int:
    """EBML id length (1-4) from the leading byte's marker bit; 99 when
    invalid (parks the walk)."""
    if q >= len(b):
        return 99
    fb = b[q]
    for n in range(1, 5):
        if fb & (0x80 >> (n - 1)):
            return n
    return 99


def _ebml_size(b: bytes, q: int) -> tuple[int, int, bool]:
    """(vint_len, value, unknown) of an EBML size vint at q; value -1 on
    a malformed/short vint (parks the walk)."""
    if q >= len(b):
        return 1, -1, False
    fb = b[q]
    for n in range(1, 9):
        if fb & (0x80 >> (n - 1)):
            if q + n > len(b):
                return n, -1, False
            raw = int.from_bytes(b[q:q + n], "big")
            marker = 1 << (7 * n)
            val = raw - marker
            unknown = val == marker - 1  # all value bits set
            return n, val, unknown
    return 1, -1, False


def ebml_doctype(b: bytes) -> str | None:
    """DocType string from the EBML header element's children (bounded)."""
    if b[:4] != bytes.fromhex("1A45DFA3"):
        return None
    vlen, hsize, unknown = _ebml_size(b, 4)
    if hsize < 0 or unknown:
        return None
    q, end = 4 + vlen, min(4 + vlen + hsize, len(b))
    for _ in range(16):
        if q >= end:
            return None
        idl = _ebml_id_len(b, q)
        if idl > 4:
            return None
        tag = b[q:q + idl]
        vlen, sval, unknown = _ebml_size(b, q + idl)
        if sval < 0 or unknown:
            return None
        data_q = q + idl + vlen
        if tag == bytes.fromhex("4282"):
            if data_q + sval > len(b):
                return None
            try:
                return b[data_q:data_q + sval].decode("ascii")
            except UnicodeDecodeError:
                return None
        q = data_q + sval
    return None


@_ddl_fit(64, 64)
def ebml_info(b: bytes) -> tuple[int | None, int | None]:
    """(timescale_ns, duration_ms) via the bounded Segment→Info walk —
    the ebml_info semantics: TimestampScale uint 1-8 bytes; Duration a
    4/8-byte FLOAT whose integer floor is taken; the spec default
    1,000,000 ns applies to the math when the scale element is absent
    but is NOT reported."""
    if b[:4] != bytes.fromhex("1A45DFA3"):
        return None, None
    stage, q, end = 0, 0, len(b)
    ts_v: int | None = None
    du_units: int | None = None
    targets = (bytes.fromhex("18538067"), bytes.fromhex("1549A966"))
    for _ in range(24):
        if ts_v is not None and du_units is not None:
            break
        if q >= end:
            break
        idl = _ebml_id_len(b, q)
        if idl > 4:
            break
        tag = b[q:q + idl]
        vlen, sval, unknown = _ebml_size(b, q + idl)
        if sval < 0:
            break
        data_q = q + idl + vlen
        nxt = data_q + sval
        fits = (not unknown) and nxt <= end
        if stage < 2 and tag == targets[stage] and (
            unknown if stage == 0 else False
        ) or (stage < 2 and tag == targets[stage] and fits):
            stage += 1
            q = data_q
            end = end if unknown else min(nxt, end)
            continue
        if stage == 2 and tag == bytes.fromhex("2AD7B1") and fits \
                and 1 <= sval <= 8 and ts_v is None:
            ts_v = int.from_bytes(b[data_q:nxt], "big")
            q = nxt
            continue
        if stage == 2 and tag == bytes.fromhex("4489") and fits \
                and sval in (4, 8) and du_units is None:
            bits = int.from_bytes(b[data_q:nxt], "big")
            du_units = _ieee_floor_units(bits, sval)
            q = nxt
            continue
        if fits:
            q = nxt
            continue
        break
    if du_units is None:
        return ts_v, None
    ts_eff = ts_v if ts_v is not None else 1000000
    if ts_eff <= 0 or du_units is None or du_units < 0:
        return ts_v, None
    if du_units > (2 ** 63 - 1) // ts_eff:
        return ts_v, None
    return ts_v, du_units * ts_eff // 1000000


def _ieee_floor_units(bits: int, n: int) -> int | None:
    """Integer floor of a non-negative IEEE float32/float64 bit pattern
    (the _ieee_floor_units contract: NULL for negatives/NaN/inf/huge)."""
    if n == 8:
        sign, exp, mant = bits >> 63, (bits >> 52) & 0x7FF, bits & ((1 << 52) - 1)
        bias, mbits, emax = 1023, 52, 0x7FF
    else:
        sign, exp, mant = bits >> 31, (bits >> 23) & 0xFF, bits & ((1 << 23) - 1)
        bias, mbits, emax = 127, 23, 0xFF
    if sign or exp == emax:
        return None
    if exp == 0:
        return 0
    e = exp - bias
    if e < 0:
        return 0
    if e >= 63:
        return None
    full = (1 << mbits) | mant
    shift = e - mbits
    return full << shift if shift >= 0 else full >> (-shift)


@_ddl_fit(32, 32)
def ebml_video_dims(b: bytes) -> tuple[int | None, int | None]:
    """(PixelWidth, PixelHeight) via Segment→Tracks→TrackEntry→Video,
    with the pop-up past non-video TrackEntries (ebml_video_dims)."""
    if b[:4] != bytes.fromhex("1A45DFA3"):
        return None, None
    stage, q, end, p_end = 0, 0, len(b), len(b)
    w_v: int | None = None
    h_v: int | None = None
    seg, tracks, tentry, video = (bytes.fromhex("18538067"),
                                  bytes.fromhex("1654AE6B"), b"\xae", b"\xe0")
    for _ in range(28):
        if w_v is not None and h_v is not None:
            break
        if q >= end:
            if stage == 3 or stage == 2:
                # pop up from an exhausted TrackEntry to the Tracks level
                if stage >= 2 and p_end > end:
                    stage, end = 1 + 1, p_end  # back inside Tracks
                    stage = 2 if stage > 2 else stage
                    # q already past the entry; continue the sibling scan
                    stage = 2
                    continue
            break
        idl = _ebml_id_len(b, q)
        if idl > 4:
            break
        tag = b[q:q + idl]
        vlen, sval, unknown = _ebml_size(b, q + idl)
        if sval < 0:
            break
        data_q = q + idl + vlen
        nxt = data_q + sval
        fits = (not unknown) and nxt <= end
        descend = ((stage == 0 and tag == seg and (unknown or fits))
                   or (stage == 1 and tag == tracks and fits)
                   or (stage == 2 and tag == tentry and fits)
                   or (stage == 3 and tag == video and fits))
        if descend:
            if stage == 2:
                p_end = end  # remember the Tracks extent for pop-up
            stage += 1
            q = data_q
            end = end if unknown else min(nxt, end)
            continue
        if stage == 4 and tag == b"\xb0" and fits and 1 <= sval <= 8 \
                and w_v is None:
            w_v = int.from_bytes(b[data_q:nxt], "big")
            q = nxt
            continue
        if stage == 4 and tag == b"\xba" and fits and 1 <= sval <= 8 \
                and h_v is None:
            h_v = int.from_bytes(b[data_q:nxt], "big")
            q = nxt
            continue
        if fits:
            q = nxt
            continue
        break
    return w_v, h_v


def sniff_mime(b: bytes) -> str:
    if b[:8] == _PNG:
        return "image/png"
    if b[:6] == b"GIF89a":
        return "image/gif"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "audio/x-wav"
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        return "image/webp"
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        return "image/tiff"
    if b[:4] == b"fLaC":
        return "audio/flac"
    if b[:4] == b"OggS":
        return "audio/ogg"
    if b[:2] == b"BM" and b[6:10] == b"\x00\x00\x00\x00" and len(b) >= 10:
        return "image/bmp"
    if b[:3] == b"ID3" or _mp3_sync(b):
        return "audio/mpeg"
    if b[4:8] == b"ftyp":
        brand = b[8:12]
        if brand in _HEIC_BRANDS:
            return "image/heic"
        if brand in _HEIF_BRANDS:
            return "image/heif"
        if brand in _AVIF_BRANDS:
            return "image/avif"
        if brand in (b"M4A ", b"M4B "):
            return "audio/mp4"
        return "video/mp4"
    if b[:4] == bytes.fromhex("1A45DFA3"):
        dt = ebml_doctype(b)
        if dt == "webm":
            return "video/webm"
        if dt == "matroska":
            return "video/x-matroska"
        return "application/octet-stream"
    if b[:3] == b"\xff\xd8\xff":
        return "image/jpeg"
    if b[:4] == b"%PDF":
        return "application/pdf"
    if b[:4] == b"PK\x03\x04":
        return "application/zip"
    if b[:2] == b"\x1f\x8b":
        return "application/gzip"
    return "application/octet-stream"


def _jpeg_dims(b: bytes, max_segments: int = 16) -> tuple[int | None, int | None]:
    """Bounded SOF segment walk (jpeg_sof_state semantics; 0-based)."""
    pos = 2
    for _ in range(max_segments):
        if pos < 0 or pos + 2 > len(b):
            return None, None
        marker = b[pos:pos + 2]
        if marker in (b"\xff\xc0", b"\xff\xc1", b"\xff\xc2"):
            w = _rd_be(b, pos + 7, 2)
            h = _rd_be(b, pos + 5, 2)
            return w, h
        if marker in (b"\xff\xd9", b"\xff\xda"):
            return None, None
        if b[pos] != 0xFF:
            return None, None
        seglen = _rd_be(b, pos + 2, 2)
        if seglen is None:
            return None, None
        pos += 2 + seglen
    return None, None


def _tiff_dims(b: bytes, max_entries: int = 32) -> tuple[int | None, int | None]:
    """Bounded IFD-entry walk with ONE next-IFD hop (tiff_dims)."""
    le = b[:4] == b"II*\x00"
    rd = _rd_le if le else _rd_be
    w = h = None
    ifd = rd(b, 4, 4)
    for _hop in range(2):
        if ifd is None or ifd <= 0:
            break
        count = rd(b, ifd, 2)
        if count is None:
            break
        for i in range(min(count, max_entries)):
            e = ifd + 2 + 12 * i
            tag, typ, cnt = rd(b, e, 2), rd(b, e + 2, 2), rd(b, e + 4, 4)
            if tag is None or typ is None or cnt is None:
                break
            if tag in (256, 257) and cnt == 1 and typ in (3, 4):
                val = rd(b, e + 8, 2) if typ == 3 else rd(b, e + 8, 4)
                if tag == 256:
                    w = val
                else:
                    h = val
        if w is not None and h is not None:
            break
        nxt = rd(b, ifd + 2 + 12 * min(count, max_entries), 4)
        ifd = nxt
    return w, h


def _webp_dims(b: bytes, max_chunks: int = 8) -> tuple[int | None, int | None]:
    """webp_dims semantics: first-chunk dispatch; VP8X walks the chunk
    list for the bitstream, falling back to canvas+1."""
    fourcc = b[12:16]
    if fourcc == b"VP8 ":
        if b[23:26] == bytes.fromhex("9D012A"):
            w, h = _rd_le(b, 26, 2), _rd_le(b, 28, 2)
            return (w % 16384 if w is not None else None,
                    h % 16384 if h is not None else None)
        return None, None
    if fourcc == b"VP8L":
        if b[20:21] == b"\x2f":
            bits = _rd_le(b, 21, 4)
            if bits is None:
                return None, None
            return bits % 16384 + 1, (bits >> 14) % 16384 + 1
        return None, None
    if fourcc == b"VP8X":
        pos = 30  # first chunk after the VP8X (0-based)
        for _ in range(max_chunks):
            cc = b[pos:pos + 4]
            size = _rd_le(b, pos + 4, 4)
            if len(cc) < 4 or size is None:
                break
            if cc == b"VP8L" and b[pos + 8:pos + 9] == b"\x2f":
                bits = _rd_le(b, pos + 9, 4)
                if bits is None:
                    break
                return bits % 16384 + 1, (bits >> 14) % 16384 + 1
            if cc == b"VP8 " and b[pos + 11:pos + 14] == bytes.fromhex("9D012A"):
                w, h = _rd_le(b, pos + 14, 2), _rd_le(b, pos + 16, 2)
                return (w % 16384 if w is not None else None,
                        h % 16384 if h is not None else None)
            if cc in (b"VP8L", b"VP8 "):
                break  # malformed bitstream chunk: no trusted dims
            pos += 8 + size + size % 2
        cw, ch = _rd_le(b, 24, 3), _rd_le(b, 27, 3)
        return (cw + 1 if cw is not None else None,
                ch + 1 if ch is not None else None)
    return None, None


def _ispe_dims(b: bytes) -> tuple[int | None, int | None]:
    """Bounded BMFF box descent to meta→iprp→ipco→ispe (ispe_dims):
    siblings (hdlr and any decoy bytes in its name) are hopped whole."""
    if b[4:8] != b"ftyp":
        return None, None
    # level 0: top-level boxes, find meta
    path = (b"meta", b"iprp", b"ipco", b"ispe")
    pos, end = 0, len(b)
    for depth in range(4):
        target = path[depth]
        found = False
        for _ in range(8):
            size = _rd_be(b, pos, 4)
            typ = b[pos + 4:pos + 8]
            if size is None or size < 8 or len(typ) < 4:
                return None, None
            if typ == target:
                inner = pos + 8 + (4 if typ == b"meta" else 0)  # fullbox
                end = min(pos + size, end)
                pos = inner
                found = True
                break
            pos += size
            if pos >= end:
                return None, None
        if not found:
            return None, None
    # pos is the ispe fullbox interior: version+flags, then BE32 dims
    return _rd_be(b, pos + 4, 4), _rd_be(b, pos + 8, 4)


@_ddl_fit(0, 32, 32)
def parse_image_meta(b: bytes) -> tuple[str, int | None, int | None]:
    if b[:8] == _PNG:
        return "image/png", _rd_be(b, 16, 4), _rd_be(b, 20, 4)
    if b[:6] == b"GIF89a":
        return "image/gif", _rd_le(b, 6, 2), _rd_le(b, 8, 2)
    if b[:3] == b"\xff\xd8\xff":
        w, h = _jpeg_dims(b)
        return "image/jpeg", w, h
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        w, h = _webp_dims(b)
        return "image/webp", w, h
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        w, h = _tiff_dims(b)
        return "image/tiff", w, h
    if b[:2] == b"BM" and b[6:10] == b"\x00\x00\x00\x00" and len(b) >= 10:
        if _rd_le(b, 14, 4) == 12:  # BITMAPCOREHEADER
            return "image/bmp", _rd_le(b, 18, 2), _rd_le(b, 20, 2)
        h_raw = _rd_le(b, 22, 4)
        h = (4294967296 - h_raw if h_raw is not None and h_raw >= 2 ** 31
             else h_raw)
        return "image/bmp", _rd_le(b, 18, 4), h
    if b[4:8] == b"ftyp":
        brand = b[8:12]
        mime = ("image/heic" if brand in _HEIC_BRANDS
                else "image/heif" if brand in _HEIF_BRANDS
                else "image/avif" if brand in _AVIF_BRANDS else None)
        if mime:
            w, h = _ispe_dims(b)
            return mime, w, h
    return "application/octet-stream", None, None


@_ddl_fit(0, 32, 32, 32, 64, 32)
def parse_audio_meta(b: bytes) -> tuple:
    """(mime, channels, sample_rate_hz, bits_per_sample, duration_ms,
    bitrate_kbps) — audio_meta semantics."""
    if b[:4] == b"RIFF" and b[8:16] == b"WAVEfmt ":
        ch, sr = _rd_le(b, 22, 2), _rd_le(b, 24, 4)
        byte_rate, bits = _rd_le(b, 28, 4), _rd_le(b, 34, 2)
        data = _rd_le(b, 40, 4)
        dur = (data * 1000 // byte_rate
               if data is not None and byte_rate else None)
        kbps = byte_rate * 8 // 1000 if byte_rate is not None else None
        return "audio/x-wav", ch, sr, bits, dur, kbps
    if b[:4] == b"fLaC":
        if len(b) > 4 and b[4] % 128 == 0:  # first block is STREAMINFO
            g24, b4 = _rd_be(b, 18, 3), _rd_be(b, 21, 1)
            if g24 is not None and b4 is not None:
                sr = g24 >> 4
                ch = (g24 >> 1) % 8 + 1
                bps = (g24 % 2) * 16 + (b4 >> 4) + 1
                lo = _rd_be(b, 22, 4)
                ts = (b4 % 16) * 4294967296 + (lo or 0)
                dur = ts * 1000 // sr if sr > 0 else None
                return "audio/flac", ch, sr, bps, dur, None
        return "audio/flac", None, None, None, None, None
    if b[:4] == b"OggS":
        nsegs = b[26] if len(b) > 26 else None
        ch = sr = kbps = dur = None
        if nsegs is not None:
            p = 27 + nsegs
            if b[p:p + 7] == b"\x01vorbis":
                ch = _rd_be(b, p + 11, 1)
                sr = _rd_le(b, p + 12, 4)
                nom = _rd_le(b, p + 20, 4)
                if nom is not None and 0 < nom < 2 ** 31:
                    kbps = nom // 1000
                # duration from the LAST page's granule (bounded tail)
                tail = b[-OGG_TAIL_BYTES:]
                lastp = tail.rfind(b"OggS")
                hdr = tail[lastp:lastp + 14] if lastp >= 0 else b""
                if len(hdr) >= 14 and hdr[4] == 0 and 4 <= hdr[5] < 8:
                    lo = int.from_bytes(hdr[6:10], "little")
                    hi = int.from_bytes(hdr[10:14], "little")
                    if hi < 2 ** 20:
                        gran = lo + hi * 4294967296
                        if gran > 0 and sr and sr > 0:
                            dur = gran * 1000 // sr
        return "audio/ogg", ch, sr, None, dur, kbps
    sync = _mp3_sync(b)
    if b[:3] == b"ID3" or sync:
        if not sync:
            return "audio/mpeg", None, None, None, None, None
        p = _mp3_frame_pos(b)
        h2, h3, h4 = b[p + 1], b[p + 2], b[p + 3]
        ver, layer = (h2 >> 3) % 4, (h2 >> 1) % 4
        br_idx, sr_idx = h3 >> 4, (h3 >> 2) % 4
        sr = MP3_SR_TABLE.get(ver, (None, None, None))[sr_idx] \
            if sr_idx < 3 and ver in MP3_SR_TABLE else None
        mono = (h4 >> 6) == 3
        ch = 1 if mono else 2
        kbps = None
        if layer == 1 and br_idx >= 1:
            kbps = (MP3_KBPS_V1L3 if ver == 3 else MP3_KBPS_V2L3)[br_idx - 1]
        spf = 1152 if ver == 3 else 576
        side = (17 if mono else 32) if ver == 3 else (9 if mono else 17)
        tag = b[p + 4 + side:p + 8 + side]
        has_xing = layer == 1 and tag in (b"Xing", b"Info")
        is_vbr = layer == 1 and tag == b"Xing"
        dur = None
        if has_xing:
            flags = _rd_be(b, p + 4 + side + 4, 4)
            frames = _rd_be(b, p + 4 + side + 8, 4)
            if flags is not None and flags % 2 == 1 and frames is not None \
                    and sr:
                dur = frames * spf * 1000 // sr
        else:
            audio_bytes = len(b) - p
            if layer == 1 and kbps and sr:
                fsize = spf // 8 * kbps * 1000 // sr + ((h3 >> 1) % 2)
                if audio_bytes >= fsize:
                    dur = audio_bytes * 8 // kbps
        out_kbps = None if is_vbr else kbps
        return ("audio/mpeg", ch, sr, None, dur, out_kbps)
    return "application/octet-stream", None, None, None, None, None


@_ddl_fit(0, 0, 64, 64, 32)
def parse_video_mp4(b: bytes) -> tuple:
    """(mime, brand, timescale, duration_ms, n_tracks) — video_meta's
    moov-anchored mvhd semantics."""
    is_mp4 = b[4:8] == b"ftyp"
    if not is_mp4:
        return "application/octet-stream", None, None, None, None
    brand = b[8:12].decode("ascii", errors="replace")
    moov = b.find(b"moov")
    p = b.find(b"mvhd", moov) if moov >= 0 else -1
    ts = dur_ms = None
    n_tracks = None
    if p >= 0:
        ver = b[p + 4] if p + 4 < len(b) else None
        if ver in (0, 1):
            if ver == 0:
                ts = _rd_be(b, p + 16, 4)
                dur = _rd_be(b, p + 20, 4)
                nt = _rd_be(b, p + 100, 4)
            else:
                ts = _rd_be(b, p + 24, 4)
                hi, lo = _rd_be(b, p + 28, 4), _rd_be(b, p + 32, 4)
                dur = (hi * 4294967296 + lo
                       if hi is not None and lo is not None and hi < 2 ** 20
                       else None)
                nt = _rd_be(b, p + 112, 4)
            if ts is not None and ts > 0 and dur is not None:
                dur_ms = dur * 1000 // ts
            n_tracks = nt - 1 if nt is not None else None
    return "video/mp4", brand, ts, dur_ms, n_tracks


# ---------------------------------------------------------------------------
# mapInArrow batch functions (one per query)
# ---------------------------------------------------------------------------

IMAGE_META_DDL = ("doc_id bigint, n_bytes int, mime_type string, "
                  "width int, height int")
AUDIO_META_DDL = ("doc_id bigint, n_bytes int, mime_type string, "
                  "channels int, sample_rate_hz int, bits_per_sample int, "
                  "duration_ms bigint, bitrate_kbps int")
MIME_SNIFF_DDL = ("doc_id bigint, n_bytes int, mime_type string, "
                  "is_image boolean, is_media boolean")
VIDEO_META_DDL = ("doc_id bigint, n_bytes int, mime_type string, "
                  "brand string, timescale bigint, duration_ms bigint, "
                  "n_tracks int, width int, height int")
MEDIA_CATALOG_DDL = ("doc_id bigint, n_bytes int, mime_type string, "
                     "modality string, width int, height int, "
                     "sample_rate_hz int, duration_ms bigint, n_tracks int")


def image_meta_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    schema = pa.schema([("doc_id", pa.int64()), ("n_bytes", pa.int32()),
                        ("mime_type", pa.string()), ("width", pa.int32()),
                        ("height", pa.int32())])
    for batch in it:
        ids = batch.column(0).to_pylist()
        nb, mt, ws, hs = [], [], [], []
        for d in ids:
            p = image_payload(d)
            m, w, h = parse_image_meta(p)
            nb.append(len(p)); mt.append(m); ws.append(w); hs.append(h)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(nb, pa.int32()),
             pa.array(mt, pa.string()), pa.array(ws, pa.int32()),
             pa.array(hs, pa.int32())], schema=schema)


def audio_meta_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    schema = pa.schema([("doc_id", pa.int64()), ("n_bytes", pa.int32()),
                        ("mime_type", pa.string()), ("channels", pa.int32()),
                        ("sample_rate_hz", pa.int32()),
                        ("bits_per_sample", pa.int32()),
                        ("duration_ms", pa.int64()),
                        ("bitrate_kbps", pa.int32())])
    for batch in it:
        ids = batch.column(0).to_pylist()
        cols = [[] for _ in range(7)]
        for d in ids:
            p = audio_payload(d)
            m, ch, sr, bits, dur, kbps = parse_audio_meta(p)
            for c, v in zip(cols, (len(p), m, ch, sr, bits, dur, kbps)):
                c.append(v)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(cols[0], pa.int32()),
             pa.array(cols[1], pa.string()), pa.array(cols[2], pa.int32()),
             pa.array(cols[3], pa.int32()), pa.array(cols[4], pa.int32()),
             pa.array(cols[5], pa.int64()), pa.array(cols[6], pa.int32())],
            schema=schema)


def mime_sniff_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    schema = pa.schema([("doc_id", pa.int64()), ("n_bytes", pa.int32()),
                        ("mime_type", pa.string()),
                        ("is_image", pa.bool_()), ("is_media", pa.bool_())])
    for batch in it:
        ids = batch.column(0).to_pylist()
        nb, mt, ii, im = [], [], [], []
        for d in ids:
            p = mime_payload(d)
            m = sniff_mime(p)
            nb.append(len(p)); mt.append(m)
            is_img = m.startswith("image/")
            ii.append(is_img)
            im.append(is_img or m.startswith("audio/")
                      or m.startswith("video/"))
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(nb, pa.int32()),
             pa.array(mt, pa.string()), pa.array(ii, pa.bool_()),
             pa.array(im, pa.bool_())], schema=schema)


def video_meta_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    schema = pa.schema([("doc_id", pa.int64()), ("n_bytes", pa.int32()),
                        ("mime_type", pa.string()), ("brand", pa.string()),
                        ("timescale", pa.int64()), ("duration_ms", pa.int64()),
                        ("n_tracks", pa.int32()), ("width", pa.int32()),
                        ("height", pa.int32())])
    ebml_sig = bytes.fromhex("1A45DFA3")
    for batch in it:
        ids = batch.column(0).to_pylist()
        cols = [[] for _ in range(8)]
        for d in ids:
            p = video_payload(d)
            if p[:4] == ebml_sig:
                dt = ebml_doctype(p)
                mime = ("video/webm" if dt == "webm"
                        else "video/x-matroska" if dt == "matroska"
                        else "application/octet-stream")
                ts, dur = ebml_info(p)
                w, h = ebml_video_dims(p)
                row = (len(p), mime, dt, ts, dur, None, w, h)
            else:
                mime, brand, ts, dur, nt = parse_video_mp4(p)
                row = (len(p), mime, brand, ts, dur, nt, None, None)
            for c, v in zip(cols, row):
                c.append(v)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(cols[0], pa.int32()),
             pa.array(cols[1], pa.string()), pa.array(cols[2], pa.string()),
             pa.array(cols[3], pa.int64()), pa.array(cols[4], pa.int64()),
             pa.array(cols[5], pa.int32()), pa.array(cols[6], pa.int32()),
             pa.array(cols[7], pa.int32())], schema=schema)


_IMG_PARSEABLE = {"image/png", "image/gif", "image/jpeg", "image/webp",
                  "image/tiff", "image/bmp", "image/heic"}
_AUD_PARSEABLE = {"audio/x-wav", "audio/flac", "audio/mpeg", "audio/ogg"}


def media_catalog_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    schema = pa.schema([("doc_id", pa.int64()), ("n_bytes", pa.int32()),
                        ("mime_type", pa.string()), ("modality", pa.string()),
                        ("width", pa.int32()), ("height", pa.int32()),
                        ("sample_rate_hz", pa.int32()),
                        ("duration_ms", pa.int64()), ("n_tracks", pa.int32())])
    ebml_sig = bytes.fromhex("1A45DFA3")
    for batch in it:
        ids = batch.column(0).to_pylist()
        cols = [[] for _ in range(8)]
        for d in ids:
            p = media_payload(d)
            mime = sniff_mime(p)
            if mime.startswith("image/"):
                modality = "image"
            elif mime.startswith("audio/"):
                modality = "audio"
            elif mime.startswith("video/"):
                modality = "video"
            elif mime == "application/pdf":
                modality = "document"
            elif mime in ("application/zip", "application/gzip"):
                modality = "archive"
            else:
                modality = "other"
            w = h = sr = nt = None
            dur = None
            if mime in _IMG_PARSEABLE:
                _m, w, h = parse_image_meta(p)
            elif mime in ("video/webm", "video/x-matroska"):
                w, h = ebml_video_dims(p)
                _ts, dur = ebml_info(p)
            if mime in _AUD_PARSEABLE:
                _m, _ch, sr, _bits, dur, _kbps = parse_audio_meta(p)
            if mime == "video/mp4":
                _m, _brand, _ts, dur, nt = parse_video_mp4(p)
            for c, v in zip(cols, (len(p), mime, modality, w, h, sr, dur, nt)):
                c.append(v)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(cols[0], pa.int32()),
             pa.array(cols[1], pa.string()), pa.array(cols[2], pa.string()),
             pa.array(cols[3], pa.int32()), pa.array(cols[4], pa.int32()),
             pa.array(cols[5], pa.int32()), pa.array(cols[6], pa.int64()),
             pa.array(cols[7], pa.int32())], schema=schema)
