"""Unit tests for the real stdlib media codecs (multimodal.py): PNG
encode/decode across all five filter types, WAV/PCM round-trip, profile
rejection, and the aHash brightness-invariance contract."""

from __future__ import annotations

import pytest

from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
    multimodal as MM,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.multimodal import (  # noqa: E501
    GRAY_MOD,
    _image_params,
    _render_rows,
    png_decode,
    png_encode,
    wav_decode,
    wav_encode,
)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_filters(filter_type):
    rows = _render_rows("media/DOC12/fig1.png")
    data = png_encode(rows, filter_type=filter_type)
    w, h, depth, color, back = png_decode(data)
    assert (w, h, depth, color) == (len(rows[0]), len(rows), 8, 0)
    assert back == rows


def test_png_is_a_real_png():
    data = png_encode([bytes([1, 2, 3]), bytes([4, 5, 6])])
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert b"IHDR" in data and b"IDAT" in data and b"IEND" in data
    import zlib
    # IDAT really is a zlib stream of filtered scanlines
    start = data.index(b"IDAT") + 4
    import struct
    (length,) = struct.unpack(">I", data[data.index(b"IDAT") - 4:
                                         data.index(b"IDAT")])
    raw = zlib.decompress(data[start:start + length])
    assert raw == b"\x00\x01\x02\x03\x00\x04\x05\x06"


def test_png_rejects_garbage_and_wrong_profile():
    with pytest.raises(ValueError, match="signature"):
        png_decode(b"not a png at all----")
    import struct
    import zlib as z
    # RGB (color type 2) profile must be rejected loudly
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
    chunk = (struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
             + struct.pack(">I", z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF))
    with pytest.raises(ValueError, match="unsupported PNG profile"):
        png_decode(sig + chunk)


def test_wav_roundtrip_and_rejection():
    samples = [0, 100, -100, 32767, -32768] * 7
    rate, back = wav_decode(wav_encode(samples, rate=16000))
    assert rate == 16000 and back == samples
    with pytest.raises(ValueError, match="RIFF"):
        wav_decode(b"OggS....nonsense")


def test_brightness_twins_share_geometry_not_bytes():
    a, b = "media/DOC0/fig1.png", "media/DOC3/fig1.png"
    pa, pb = _image_params(a), _image_params(b)
    assert pa[:5] == pb[:5] and pa[5] != pb[5]
    ra, rb = _render_rows(a), _render_rows(b)
    d = pb[5] - pa[5]
    assert all(rb[y][x] - ra[y][x] == d
               for y in range(len(ra)) for x in range(len(ra[0])))
    assert max(v for r in rb for v in r) < 256  # no wrap: invariance exact
    assert max(v for r in ra for v in r) >= GRAY_MOD - 60  # texture spans


# --- GIF / LZW (round-5: the video stub decoder is retired) ---------------

def test_gif_roundtrip_structured_frames():
    """Multi-frame synthesis shape: constant rasters with a row-0
    gradient survive encode -> decode pixel-for-pixel."""
    frames = []
    for f in range(5):
        v = (37 + 7 * f) % MM.GIF_SEED_MOD
        frames.append([(v + x) if y == 0 else v
                       for y in range(MM.GIF_H) for x in range(MM.GIF_W)])
    w, h, out = MM.gif_decode(MM.gif_encode(frames, MM.GIF_W, MM.GIF_H))
    assert (w, h) == (MM.GIF_W, MM.GIF_H) and out == frames


def test_gif_lzw_dictionary_growth_and_clear():
    """An md5-stream raster large enough to push the LZW dictionary
    through every code width up to the 12-bit cap and force a mid-
    stream CLEAR reset — the variable-width machinery's hard path."""
    import hashlib
    px, seed = [], b"x"
    while len(px) < 128 * 96:
        seed = hashlib.md5(seed).digest()
        px.extend(seed)
    px = list(px[:128 * 96])
    w, h, out = MM.gif_decode(MM.gif_encode([px], 128, 96))
    assert (w, h) == (128, 96) and out[0] == px


def test_gif_kwkwk_case():
    """aaaa... runs exercise the code == next-free (KwKwK) branch."""
    px = ([9] * 37 + [8] * 41) * 20
    assert MM.gif_decode(MM.gif_encode([px], 60, 26))[2][0] == px


def test_gif_decode_spec_fixture_1x1():
    """Spec pin against bytes this codec did NOT produce: the
    canonical 1x1 transparent GIF89a (min code size 2, a graphics-
    control extension to skip, 2-entry color table)."""
    onepx = bytes.fromhex(
        "47494638396101000100800000000000ffffff21f9040100000000"
        "2c00000000010001000002024401003b")
    w, h, frames = MM.gif_decode(onepx)
    assert (w, h) == (1, 1) and frames == [[0]]


def test_gif_rejects_garbage_and_interlace():
    with pytest.raises(ValueError):
        MM.gif_decode(b"NOTAGIF" + b"\x00" * 20)
    # flip the interlace flag on a valid stream
    good = bytearray(MM.gif_encode([[1] * MM.GIF_W * MM.GIF_H],
                                   MM.GIF_W, MM.GIF_H))
    img = 13 + 768           # header + 256-entry global color table
    assert good[img] == 0x2C
    good[img + 9] |= 0x40
    with pytest.raises(ValueError):
        MM.gif_decode(bytes(good))


def test_gif_without_color_table_raises():
    enc = MM.gif_encode([[1] * 4], 2, 2)
    # drop the global color table: clear its flag and its 768 bytes
    bare = enc[:10] + bytes([0x00]) + enc[11:13] + enc[13 + 768:]
    with pytest.raises(ValueError, match="color table"):
        MM.gif_decode(bare)


def test_sample_frames_mean_over_sub_screen_frame(spark):
    """A frame smaller than the logical screen: the mean is over the
    frame's own pixels, not the screen area."""
    import struct

    px = [10, 20, 30, 40, 50, 60]
    gif = bytearray(MM.gif_encode([px], 3, 2))
    gif[6:10] = struct.pack("<HH", 8, 8)     # logical screen 8x8
    media = spark.createDataFrame(
        [("DOC:1", 2, "media/x.gif", bytes(gif))],
        "doc_id string, pos int, media_ref string, content binary")
    row = MM.sample_frames(media).first()
    assert row["n_frames"] == 1
    assert row["mean_gray"] == pytest.approx(sum(px) / len(px))


def test_sample_frames_real_decode_parity(spark, sf_dir):
    """Planted-frame parity: for sampled refs, re-synthesize the GIF
    in the test, decode it independently, and check the query's
    n_frames and per-frame mean against the actual pixels."""
    import __spark_entry__ as E
    rows = E.queries()["media_frame_sample"](spark, sf_dir).collect()
    assert rows
    by_ref = {}
    for r in rows:
        by_ref.setdefault(r["media_ref"], []).append(r)
    some = list(by_ref)[:10]
    for ref in some:
        n, base = MM._gif_plan(ref)
        frames = []
        for f in range(n):
            v = (base + MM.GIF_FRAME_STEP * f) % MM.GIF_SEED_MOD
            frames.append([(v + x) if y == 0 else v
                           for y in range(MM.GIF_H)
                           for x in range(MM.GIF_W)])
        _, _, decoded = MM.gif_decode(
            MM.gif_encode(frames, MM.GIF_W, MM.GIF_H))
        for r in by_ref[ref]:
            assert r["n_frames"] == n
            px = decoded[r["frame_idx"]]
            assert abs(r["mean_gray"] - sum(px) / len(px)) < 1e-6
    # at most FRAME_SAMPLE_MAX rows per ref, frame 0 always present
    for ref, rs in by_ref.items():
        assert len(rs) <= MM.FRAME_SAMPLE_MAX
        assert 0 in {r["frame_idx"] for r in rs}


def test_sample_frames_unavailable_codec_raises(spark, sf_dir):
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.multimodal import (  # noqa: E501
        media_spans, sample_frames, synthesize_gif,
    )
    from cspirit_ontology_information_extraction_opus4plan_spark.api import (
        spans_exploded,
    )
    media = synthesize_gif(media_spans(spans_exploded(spark, sf_dir)))
    with pytest.raises(NotImplementedError):
        sample_frames(media, decoder="mp4")
