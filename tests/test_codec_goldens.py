"""Golden-byte codec pins (r14 verdict item 7): the committed
fixtures freeze the exact encoder output bytes, decoder round-trip
hashes, and malformed-stream error positions that the r14 vectorized
codecs produced when they were differentially verified and
oracle-green. Any platform/numpy/BLAS change that drifts a single
byte fails HERE, without needing an oracle run.

Regenerate (only after re-proving byte-identity): tools/gen_codec_goldens.py
"""

import base64
import hashlib
import json
import os

import pytest

FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "codec_goldens.json"
)

with open(FIXTURE) as _f:
    GOLDENS = json.load(_f)


def _b(s: str) -> bytes:
    return base64.b64decode(s)


def _check_err(rec: dict, fn, *args) -> None:
    try:
        fn(*args)
    except Exception as ex:  # noqa: BLE001
        assert type(ex).__name__ == rec["type"], (rec, repr(ex))
        assert str(ex) == rec["msg"], (rec, str(ex))
        return
    assert rec["type"] is None, f"expected {rec['type']}, nothing raised"


@pytest.mark.parametrize("case", GOLDENS["png"], ids=lambda c: c["case"])
def test_png_golden(case):
    from go_map_reduce_spark.operators.multimodal import decode_png, encode_png

    w, h, px = case["w"], case["h"], _b(case["pixels"])
    rows = [px[y * w * 3 : (y + 1) * w * 3] for y in range(h)]
    enc = encode_png(w, h, rows)
    assert enc == _b(case["encoded"]), "PNG encoder bytes drifted"
    dec = decode_png(enc)
    assert [dec[0], dec[1], dec[2]] == case["decoded_dims"]
    assert hashlib.sha256(dec[3]).hexdigest() == case["decoded_sha"]
    assert dec[3] == px, "PNG round-trip not lossless"
    _check_err(case["err_truncated_20"], decode_png, enc[:20])
    _check_err(case["err_truncated_half"], decode_png, enc[: len(enc) // 2])
    _check_err(
        case["err_crc_flip"],
        decode_png,
        enc[:-5] + bytes([enc[-5] ^ 0xFF]) + enc[-4:],
    )


@pytest.mark.parametrize("case", GOLDENS["jpeg"], ids=lambda c: c["case"])
def test_jpeg_golden(case):
    from go_map_reduce_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg_color,
        encode_jpeg_color_subsampled,
        encode_jpeg_gray,
        encode_jpeg_progressive_color,
        encode_jpeg_progressive_gray,
    )

    q_custom = [(i % 7) + 1 for i in range(64)]
    w, h, px = case["w"], case["h"], _b(case["pixels"])
    tag = case["case"]
    if tag.startswith("gray-8x8"):
        enc = encode_jpeg_gray(w, h, px)
    elif tag.startswith("gray-16x8"):
        enc = encode_jpeg_gray(w, h, px, quant=q_custom)
    elif tag.startswith("gray-24x16"):
        enc = encode_jpeg_gray(w, h, px, restart_interval=2)
    elif tag.startswith("color444-8x8"):
        enc = encode_jpeg_color(w, h, px)
    elif tag.startswith("color444-16x8"):
        enc = encode_jpeg_color(w, h, px, chroma_quant=q_custom)
    elif tag.startswith("color420"):
        enc = encode_jpeg_color_subsampled(w, h, px, None, (2, 2))
    elif tag.startswith("color422"):
        enc = encode_jpeg_color_subsampled(w, h, px, None, (2, 1))
    elif tag.startswith("prog-gray"):
        enc = encode_jpeg_progressive_gray(w, h, px)
    elif tag.startswith("prog-color420"):
        enc = encode_jpeg_progressive_color(w, h, px, subsample=True)
    else:  # pragma: no cover - fixture/test drift
        raise AssertionError(f"unknown golden case {tag}")
    assert enc == _b(case["encoded"]), f"JPEG encoder bytes drifted: {tag}"
    dec = decode_jpeg(enc)
    assert [dec[0], dec[1], dec[2]] == case["decoded_dims"]
    assert hashlib.sha256(dec[3]).hexdigest() == case["decoded_sha"]
    _check_err(case["err_truncated_entropy"], decode_jpeg, enc[:-10])
    _check_err(case["err_truncated_header"], decode_jpeg, enc[:12])
    _check_err(
        case["err_marker_flip"], decode_jpeg, enc[:2] + bytes([0x00]) + enc[3:]
    )


@pytest.mark.parametrize("case", GOLDENS["wav"], ids=lambda c: c["case"])
def test_wav_golden(case):
    from go_map_reduce_spark.operators.multimodal import decode_wav, encode_wav

    chn = case["channels"]
    enc = encode_wav(chn, 8000, case["frames"])
    assert enc == _b(case["encoded"]), "WAV encoder bytes drifted"
    dec = decode_wav(enc)
    assert [dec[0], dec[1], dec[2]] == case["decoded_meta"]
    assert hashlib.sha256(dec[3]).hexdigest() == case["decoded_sha"]
    _check_err(case["err_overflow"], encode_wav, chn, 8000, [[40000] * chn])
    _check_err(case["err_float"], encode_wav, chn, 8000, [[1.5] * chn])
    _check_err(case["err_truncated"], decode_wav, enc[: len(enc) // 2])


@pytest.mark.parametrize("case", GOLDENS["bmp"], ids=lambda c: c["case"])
def test_bmp_golden(case):
    from go_map_reduce_spark.operators.multimodal import decode_bmp, encode_bmp

    w, h, px = case["w"], case["h"], _b(case["pixels"])
    rows = [px[y * w * 3 : (y + 1) * w * 3] for y in range(h)]
    enc = encode_bmp(w, h, rows)
    assert enc == _b(case["encoded"]), "BMP encoder bytes drifted"
    dec = decode_bmp(enc)
    assert [dec[0], dec[1], dec[2]] == case["decoded_dims"]
    assert hashlib.sha256(dec[3]).hexdigest() == case["decoded_sha"]
    _check_err(case["err_truncated"], decode_bmp, enc[:10])


def test_jpeg_quantizer_ignores_summation_order():
    """color444-16x8-twotable has DCT quotients within 1e-14 of a .5 tie
    (its Cb DC reads 5.5000000000000036 one way, 5.499999999999998 the
    other); the quantized ints must not depend on how the DCT was summed."""
    import numpy as np

    from go_map_reduce_spark.functions.jpegcodec import _dct_matrix, _quantize

    case = next(c for c in GOLDENS["jpeg"] if c["case"] == "color444-16x8-twotable")
    w, h = case["w"], case["h"]
    img = np.frombuffer(_b(case["pixels"]), dtype=np.uint8).reshape(h, w, 3).astype(np.float64)
    r_, g_, b_ = img[..., 0], img[..., 1], img[..., 2]
    planes = [
        0.299 * r_ + 0.587 * g_ + 0.114 * b_,
        128.0 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_,
        128.0 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_,
    ]
    q_custom = np.array([(i % 7) + 1 for i in range(64)], dtype=np.float64).reshape(8, 8)
    m = _dct_matrix()
    near_ties = 0
    for plane, q in zip(planes, [np.ones((8, 8)), q_custom, q_custom]):
        plane = np.clip(np.rint(plane), 0, 255)
        centered = plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3) - 128.0
        left = (m @ centered) @ m.T
        right = m @ (centered @ m.T)
        ratio = left / q
        near_ties += int((np.abs(ratio - np.floor(ratio) - 0.5) < 1e-9).sum())
        assert np.array_equal(_quantize(left, centered, q, m), _quantize(right, centered, q, m))
    assert near_ties > 0
