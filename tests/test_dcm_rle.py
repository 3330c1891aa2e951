"""RLE Lossless (1.2.840.10008.1.2.5, PS3.5 Annex G) tests: PackBits
codec properties, a hand-assembled golden stream (parser vs the standard,
not the writer), writer round-trips per pixel shape, and clear errors for
the unsupported encapsulated families."""

import struct
import zlib  # noqa: F401 — parity with the deflated tests' imports

import numpy as np
import pytest

from deidcm_spark.dcm import (
    TRANSFER_SYNTAX_RLE,
    _packbits_decode,
    _packbits_encode,
    _rle_decode_frame,
    _rle_encode_frame,
    encode_part10,
    parse_part10,
)

RNG = np.random.default_rng


# --- PackBits codec ---------------------------------------------------------

@pytest.mark.parametrize("seed,n", [(1, 0), (2, 1), (3, 17), (4, 4096)])
def test_packbits_roundtrip_random(seed, n):
    data = bytes(RNG(seed).integers(0, 256, size=n, dtype=np.uint8))
    enc = _packbits_encode(data)
    assert len(enc) % 2 == 0  # segments are even-length per the spec
    assert _packbits_decode(enc) == data


def test_packbits_roundtrip_runs():
    # long runs exercise the replicate cap (128) and run/literal switching
    data = b"\x00" * 300 + b"ab" + b"\xff" * 129 + b"xyz" + b"q" * 2
    assert _packbits_decode(_packbits_encode(data)) == data


def test_packbits_decode_rejects_truncated():
    with pytest.raises(ValueError):
        _packbits_decode(b"\x05ab")  # literal claims 6 bytes, has 2
    with pytest.raises(ValueError):
        _packbits_decode(b"\xfe")  # replicate missing its byte


# --- frame codec ------------------------------------------------------------

@pytest.mark.parametrize("n_segments,dtype", [(1, np.uint8), (2, np.uint16), (3, np.uint8)])
def test_frame_roundtrip(n_segments, dtype):
    n_px = 64 * 32
    info = np.iinfo(dtype)
    arr = RNG(9).integers(0, int(info.max) + 1,
                          size=n_px * (n_segments if dtype == np.uint8 else 1),
                          dtype=dtype)
    raw = arr.astype("<u2").tobytes() if dtype == np.uint16 else arr.tobytes()
    frame = _rle_encode_frame(raw, n_segments)
    assert _rle_decode_frame(frame, len(raw)) == raw
    # header sanity: segment count + first offset = 64
    vals = struct.unpack("<16I", frame[:64])
    assert vals[0] == n_segments and vals[1] == 64


def test_frame_decode_rejects_bad_headers():
    with pytest.raises(ValueError, match="64-byte header"):
        _rle_decode_frame(b"\x00" * 10)
    hdr = struct.pack("<16I", 0, *([0] * 15))
    with pytest.raises(ValueError, match="out of range"):
        _rle_decode_frame(hdr)
    hdr = struct.pack("<16I", 1, 9999, *([0] * 14))
    with pytest.raises(ValueError, match="out of bounds"):
        _rle_decode_frame(hdr)


# --- golden stream: hand-assembled per PS3.10 + PS3.5 A.4/G ------------------

def _golden_rle_stream() -> tuple[bytes, bytes]:
    """(stream, expected_pixels): 4x3 8-bit grayscale, assembled from the
    standard's layout — independent of encode_part10."""
    pixels = bytes([10, 10, 10, 10, 20, 30, 40, 50, 7, 7, 7, 7])
    seg = _packbits_encode(pixels)
    frame = struct.pack("<16I", 1, 64, *([0] * 14)) + seg
    if len(frame) % 2:
        frame += b"\x00"

    ts = TRANSFER_SYNTAX_RLE.encode()
    if len(ts) % 2:
        ts += b"\x00"
    meta_body = struct.pack("<HH", 2, 0x10) + b"UI" + struct.pack("<H", len(ts)) + ts
    meta = (struct.pack("<HH", 2, 0) + b"UL" + struct.pack("<H", 4)
            + struct.pack("<I", len(meta_body)) + meta_body)

    def us(group, elem, val):
        return (struct.pack("<HH", group, elem) + b"US"
                + struct.pack("<H", 2) + struct.pack("<H", val))

    ds = (us(0x0028, 0x0002, 1)      # SamplesPerPixel
          + us(0x0028, 0x0010, 3)    # Rows
          + us(0x0028, 0x0011, 4)    # Columns
          + us(0x0028, 0x0100, 8)    # BitsAllocated
          + struct.pack("<HH", 0x7FE0, 0x0010) + b"OB\x00\x00"
          + struct.pack("<I", 0xFFFFFFFF)
          + struct.pack("<HHI", 0xFFFE, 0xE000, 0)            # empty BOT
          + struct.pack("<HHI", 0xFFFE, 0xE000, len(frame)) + frame
          + struct.pack("<HHI", 0xFFFE, 0xE0DD, 0))
    return b"\x00" * 128 + b"DICM" + meta + ds, pixels


def test_parse_golden_rle_stream():
    stream, pixels = _golden_rle_stream()
    out = parse_part10(stream)
    assert out["media"] is not None
    assert out["media"]["pixels"] == pixels
    assert (out["media"]["width"], out["media"]["height"]) == (4, 3)
    texts = {s["text"] for s in out["spans"]}
    assert "Rows_0x00280010_US_1____=3" in texts


def test_parse_rle_multiframe_is_clear_error():
    stream, _ = _golden_rle_stream()
    # splice a second (empty-frame) fragment before the delimiter
    delim = struct.pack("<HHI", 0xFFFE, 0xE0DD, 0)
    extra = struct.pack("<HHI", 0xFFFE, 0xE000, 64) + struct.pack(
        "<16I", 1, 64, *([0] * 14))
    assert stream.endswith(delim)
    with pytest.raises(ValueError, match="fragments"):
        parse_part10(stream[: -len(delim)] + extra + delim)


# --- writer round-trip --------------------------------------------------------

def _media_doc(ts_uid: str, bits: int, channels: int, pixels: bytes,
               w: int, h: int):
    spans = [
        {"kind": "text",
         "text": f"TransferSyntaxUID_0x00020010_UI_1____={ts_uid}",
         "media_ref": "", "offset": 0},
        {"kind": "text", "text": "SOPInstanceUID_0x00080018_UI_1____=1.2.3",
         "media_ref": "", "offset": 1},
        {"kind": "media", "text": "", "media_ref": "m/0", "offset": 2},
    ]
    payload = {"width": w, "height": h, "channels": channels, "bits": bits,
               "pixels": pixels}
    return spans, payload


@pytest.mark.parametrize("bits,channels,dtype", [
    (8, 1, np.uint8), (16, 1, np.uint16), (8, 3, np.uint8),
])
def test_writer_rle_roundtrip(bits, channels, dtype):
    w, h = 16, 9
    info = np.iinfo(dtype)
    arr = RNG(4).integers(0, int(info.max) + 1, size=w * h * channels,
                          dtype=dtype)
    raw = arr.astype("<u2").tobytes() if bits == 16 else arr.tobytes()
    spans, payload = _media_doc(TRANSFER_SYNTAX_RLE, bits, channels, raw, w, h)
    blob = encode_part10(spans, payload)
    # encapsulated: the element is undefined-length OB with item framing
    assert struct.pack("<HH", 0x7FE0, 0x0010) + b"OB\x00\x00\xff\xff\xff\xff" in blob
    out = parse_part10(blob)
    assert out["media"]["pixels"] == raw
    assert out["media"]["bits"] == bits
    assert out["media"]["channels"] == channels


def test_writer_rle_compresses_runs():
    raw = bytes([5]) * 10000
    spans, payload = _media_doc(TRANSFER_SYNTAX_RLE, 8, 1, raw, 100, 100)
    blob = encode_part10(spans, payload)
    assert len(blob) < 2000  # 10k constant bytes collapse into ~80 RLE bytes
    assert parse_part10(blob)["media"]["pixels"] == raw


def test_jpeg_still_rejected_and_native_rejects_encapsulated():
    spans, payload = _media_doc("1.2.840.10008.1.2.4.50", 8, 1, b"\x00" * 4, 2, 2)
    with pytest.raises(ValueError, match="unsupported transfer syntax"):
        encode_part10(spans, payload)
    # an encapsulated body under a NATIVE syntax is a clear parse error
    stream, _ = _golden_rle_stream()
    native = stream.replace(TRANSFER_SYNTAX_RLE.encode() + b"\x00",
                            b"1.2.840.10008.1.2.1\x00")
    with pytest.raises(ValueError, match="encapsulated PixelData"):
        parse_part10(native)


# --- review-pass regressions: the spec's zero pad, fragment-count errors -----

def test_packbits_decode_zero_padded_segment():
    """PS3.5 G.3.1 pads odd segments 'with zero' — real writers (pydicom
    included) append 0x00, which is NOT a noop control byte.  Decode must
    stop at the expected length (or accept a single trailing 0x00 when the
    length is unknown), not read the pad as a literal header."""
    data = b"\x02\x10\x20\x30"  # 3-byte literal
    assert _packbits_decode(data + b"\x00", 3) == b"\x10\x20\x30"
    assert _packbits_decode(data + b"\x00") == b"\x10\x20\x30"
    # a genuinely truncated literal still raises
    with pytest.raises(ValueError, match="overruns"):
        _packbits_decode(b"\x05ab\x00")


def test_packbits_decode_accepts_only_pad_after_expected_len():
    """Once the expected plane length is decoded, what is left may be
    nothing, the single G.3.1 0x00 pad, or noop bytes (the encoder's 0x80
    filler) — never data that would decode past the plane."""
    data = b"\x02\x10\x20\x30"  # 3-byte literal
    assert _packbits_decode(data, 3) == b"\x10\x20\x30"
    assert _packbits_decode(data + b"\x00", 3) == b"\x10\x20\x30"
    assert _packbits_decode(data + b"\x80", 3) == b"\x10\x20\x30"
    for extra in (b"\x00\x00", b"\x01\x40\x50", b"\xff\x07", b"\x00\x41"):
        with pytest.raises(ValueError, match="past its 3-byte plane"):
            _packbits_decode(data + extra, 3)
    # a mismatched-dimension stream surfaces at the frame level too
    seg = data + b"\x01\x40\x50"
    frame = struct.pack("<16I", 1, 64, *([0] * 14)) + seg + b"\x00"
    with pytest.raises(ValueError, match="past its 3-byte plane"):
        _rle_decode_frame(frame, 3)
    assert _rle_decode_frame(frame, 5) == b"\x10\x20\x30\x40\x50"


def test_frame_with_zero_padded_segments_decodes():
    pixels = bytes([9, 8, 7, 6, 5])
    # two literal runs totaling 7 encoded bytes (odd) + the G.3.1 zero pad
    seg = b"\x00" + pixels[:1] + b"\x03" + pixels[1:]
    assert len(seg) % 2 == 1
    frame = struct.pack("<16I", 1, 64, *([0] * 14)) + seg + b"\x00"
    assert _rle_decode_frame(frame, len(pixels)) == pixels
