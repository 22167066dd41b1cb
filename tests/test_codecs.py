import struct
import zlib

import numpy as np
import pytest

from aef_mosaic_spark import codecs, generator


@pytest.fixture
def img():
    rng = np.random.RandomState(7)
    return rng.randint(0, 256, size=(3, 61, 47), dtype=np.uint8)


@pytest.mark.parametrize("fmt", ["raw", "ppm", "png"])
def test_lossless_roundtrip(img, fmt):
    enc = codecs.encode(img, fmt)
    dec = codecs.decode(enc, fmt, img.shape[2], img.shape[1])
    assert np.array_equal(dec, img)


def test_png_grayscale():
    img = (np.arange(32 * 32, dtype=np.uint8)).reshape(1, 32, 32)
    assert np.array_equal(codecs.decode(codecs.encode(img, "png"), "png", 32, 32), img)


# a 4x3 RGB image: 3 rows of (filter byte 0 + 4 * 3 samples)
_PNG_IDAT = zlib.compress(bytes(3 * (1 + 4 * 3)))


def _png(depth=8, color_type=2, interlace=0, idat=_PNG_IDAT,
         sig=b"\x89PNG\r\n\x1a\n", ihdr_len=13):
    """A 4x3 PNG with the given signature, IHDR fields and IDAT."""
    ihdr = struct.pack(">IIBBBBB", 4, 3, depth, color_type, 0, 0,
                       interlace)[:ihdr_len]
    return (sig + codecs._png_chunk(b"IHDR", ihdr)
            + codecs._png_chunk(b"IDAT", idat) + codecs._png_chunk(b"IEND", b""))


@pytest.mark.parametrize("data, field", [
    (_png(sig=b"\x89PNX\r\n\x1a\n"), "signature"),
    (_png(ihdr_len=10), "IHDR length 10"),
    (_png(depth=16), "bit depth 16"),
    (_png(color_type=3), "color type 3"),
    (_png(interlace=1), "interlace method 1"),
    (_png(idat=_PNG_IDAT[:-6]), "IDAT"),            # zlib stream cut short
    (_png(idat=zlib.compress(bytes(3 * 13 - 5))), "IDAT inflates"),
], ids=["signature", "ihdr_short", "depth16", "palette", "adam7", "idat_cut", "idat_short"])
def test_decode_png_rejects_bad_input(data, field):
    assert codecs.decode_png(_png()).shape == (3, 3, 4)
    with pytest.raises(ValueError, match=field):
        codecs.decode_png(data)


def test_qdct_psnr_budget(img):
    # BASELINE lossy budget: PSNR >= 40 dB
    dec = codecs.decode(codecs.encode(img, "qdct"), "qdct", img.shape[2], img.shape[1])
    assert dec.shape == img.shape
    assert codecs.psnr(img, dec) >= 40.0


def test_qdct_natural_tile_psnr():
    geom = generator.tile_geometry(3, 100)
    img = generator.tile_pixels(3, geom)
    dec = codecs.decode(codecs.encode(img, "qdct"), "qdct", geom["w"], geom["h"])
    assert codecs.psnr(img, dec) >= 45.0


def test_qdct_deterministic(img):
    assert codecs.encode(img, "qdct") == codecs.encode(img, "qdct")


def test_phash_deterministic_and_locality():
    geom = generator.tile_geometry(0, 100)
    img = generator.tile_pixels(0, geom)
    h1 = codecs.phash64(img)
    assert h1 == codecs.phash64(img)
    # small noise -> small hamming distance; different tile -> larger
    noisy = np.clip(img.astype(int) + 2, 0, 255).astype(np.uint8)
    other = generator.tile_pixels(57, generator.tile_geometry(57, 100))
    d_noise = bin(h1 ^ codecs.phash64(noisy)).count("1")
    d_other = bin(h1 ^ codecs.phash64(other)).count("1")
    assert d_noise <= 8
    assert d_other > d_noise


def test_generator_determinism_and_layout():
    pdf1 = generator.images_pdf(40)
    pdf2 = generator.images_pdf(40)
    assert pdf1.equals(pdf2)
    assert set(pdf1["fmt"]) == {"raw", "png", "ppm", "qdct"}
    assert {2022, 2023, 2024} <= set(pdf1["year"])
    assert (pdf1["crs"].isin(["EPSG:32610", "EPSG:32611"])).all()
    # wgs84 bounds consistent with native
    assert (pdf1["min_lon"] < pdf1["max_lon"]).all()
    assert (pdf1["min_lat"] < pdf1["max_lat"]).all()


def test_generator_decodable():
    pdf = generator.images_pdf(12)
    for t in pdf.itertuples(index=False):
        img = codecs.decode(t.bytes, t.fmt, t.w, t.h)
        assert img.shape == (3, t.h, t.w)
        if t.fmt in codecs.LOSSLESS:
            assert np.array_equal(img, generator.tile_pixels(
                int(t.image_id.split("_")[1]), generator.tile_geometry(
                    int(t.image_id.split("_")[1]), 12)))
