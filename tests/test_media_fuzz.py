"""Poisoned-row robustness for the media decoders.

One corrupt binary row on a 1000-executor job must fail its task FAST with
a typed error — never spin (the round-5 netpbm header hang), never allocate
multi-GB buffers from attacker-controlled headers, never return silently
wrong data. These fuzz tests drive random and adversarial bytes through
every decoder dispatch path and assert the failure contract.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import clpspark.operators.multimodal as M

_OK_ERRORS = (ValueError, NotImplementedError)


@settings(max_examples=200, deadline=2000)
@given(st.binary(min_size=0, max_size=256))
def test_decode_random_bytes_fails_typed(data):
    """Random bytes (whatever magic they happen to start with) either
    decode to a real array or raise the declared error types — nothing
    else, and within the deadline (no hangs)."""
    try:
        out = M._decode_payload(data)
        assert isinstance(out, np.ndarray)
    except _OK_ERRORS:
        pass
    except struct.error:
        pytest.fail("struct.error escaped the decoder contract")


@settings(max_examples=150, deadline=2000)
@given(st.binary(min_size=0, max_size=256))
def test_jpeg_prefixed_fuzz(data):
    """Bytes forced onto the JPEG dispatch path."""
    try:
        M._decode_payload(b"\xff\xd8" + data)
    except _OK_ERRORS:
        pass


@settings(max_examples=150, deadline=2000)
@given(st.binary(min_size=0, max_size=256))
def test_png_prefixed_fuzz(data):
    try:
        M._decode_payload(b"\x89PNG\r\n\x1a\n" + data)
    except _OK_ERRORS:
        pass
    except Exception as e:  # zlib.error is acceptable-typed too
        import zlib

        assert isinstance(e, zlib.error), type(e)


@settings(max_examples=150, deadline=2000)
@given(st.binary(min_size=0, max_size=320))
def test_mp4_sample_table_fuzz(data):
    """ISO BMFF parser on random box soup: typed errors or a list."""
    payload = b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00isomiso2" + data
    try:
        out = M.mp4_sample_table(payload)
        assert isinstance(out, list)
    except _OK_ERRORS:
        pass


def test_jpeg_huge_dimensions_rejected():
    """A crafted 65535x65535 SOF must be refused before allocating
    multi-GB planes."""
    sof = (b"\xff\xd8"
           + b"\xff\xc0" + struct.pack(">H", 11)
           + bytes([8]) + struct.pack(">HH", 65535, 65535)
           + bytes([1, 1, 0x11, 0]))
    with pytest.raises(ValueError, match="dimensions"):
        M._decode_payload(sof)


def test_mp4_huge_sample_counts_rejected():
    """stts/stsz run-length counts bigger than the payload must be
    ValueError, not a multi-GB list expansion."""

    def box(t, body):
        return struct.pack(">I", len(body) + 8) + t + body

    def full(t, body):
        return box(t, b"\x00\x00\x00\x00" + body)

    stsd = full(b"stsd", struct.pack(">I", 1) + box(b"avc1", b"\x00" * 8))
    stts = full(b"stts", struct.pack(">I", 1)
                + struct.pack(">II", 0xFFFFFF, 10))  # 16M samples claimed
    stsc = full(b"stsc", struct.pack(">I", 1) + struct.pack(">III", 1, 1, 1))
    stsz = full(b"stsz", struct.pack(">II", 4, 0xFFFFFF))  # uniform path
    stco = full(b"stco", struct.pack(">I", 1) + struct.pack(">I", 0))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    hdlr = full(b"hdlr", struct.pack(">I", 0) + b"vide" + b"\x00" * 12)
    mdhd = full(b"mdhd", struct.pack(">IIII", 0, 0, 1000, 0))
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = full(b"tkhd", struct.pack(">III", 0, 0, 1) + b"\x00" * 60)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", trak)
    payload = box(b"ftyp", b"isom") + moov
    with pytest.raises(ValueError, match="sample count"):
        M.mp4_sample_table(payload)


def test_short_malformed_headers_are_value_errors():
    """Regression probes from review: tiny truncated streams that used to
    escape as struct.error / IndexError must be ValueError."""
    # SOF segment with a 2-byte body (unpack of >HH would short-read)
    with pytest.raises(ValueError):
        M._decode_payload(b"\xff\xd8\xff\xc0\x00\x04\x08\x00")
    # empty SOF segment (seg[0] would IndexError)
    with pytest.raises(ValueError):
        M._decode_payload(b"\xff\xd8\xff\xc0\x00\x02")

    def box(t, body):
        return struct.pack(">I", len(body) + 8) + t + body

    # tkhd with an empty body (version byte read would IndexError)
    moov = box(b"moov", box(b"trak", box(b"tkhd", b"")))
    with pytest.raises(ValueError):
        M.mp4_sample_table(box(b"ftyp", b"isom") + moov)
    # empty stts full box (entry-count unpack would short-read)
    stbl = box(b"stbl", box(b"stts", b""))
    moov = box(b"moov", box(b"trak", box(
        b"mdia", box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
        + box(b"minf", stbl))))
    with pytest.raises(ValueError):
        M.mp4_sample_table(box(b"ftyp", b"isom") + moov)


def test_png_bomb_and_huge_dims_rejected():
    """A deflate payload larger than the declared scanline bytes (bomb
    shape) and oversized declared dimensions both fail before allocation."""
    import zlib

    def chunk(t, data):
        return (struct.pack(">I", len(data)) + t + data
                + struct.pack(">I", zlib.crc32(t + data)))

    sig = b"\x89PNG\r\n\x1a\n"
    # 4x4 gray header, but the IDAT inflates to 64 KB (>> (4+1)*4 bytes)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * 65536)
    with pytest.raises(ValueError, match="size mismatch"):
        M._decode_payload(sig + chunk(b"IHDR", ihdr)
                          + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
    # 65535x65535 declared dims rejected before plane allocation
    ihdr = struct.pack(">IIBBBBB", 65535, 65535, 8, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="dimensions"):
        M._decode_payload(sig + chunk(b"IHDR", ihdr)
                          + chunk(b"IDAT", zlib.compress(b"\x00"))
                          + chunk(b"IEND", b""))
    # corrupt deflate stream is a ValueError, not zlib.error
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    with pytest.raises(ValueError):
        M._decode_payload(sig + chunk(b"IHDR", ihdr)
                          + chunk(b"IDAT", b"\xff\xff\xff\xff")
                          + chunk(b"IEND", b""))


def test_jpeg_component_count_capped():
    """Nf=255 would allocate ~255 planes under the pixel cap — declared."""
    sof_body = bytes([8]) + struct.pack(">HH", 4096, 4096) + bytes([255])
    data = (b"\xff\xd8" + b"\xff\xc0"
            + struct.pack(">H", len(sof_body) + 2) + sof_body)
    with pytest.raises(NotImplementedError, match="component"):
        M._decode_payload(data)


def test_rebalance_skips_shuffle_plans(spark):
    """rebalance_for_udf must return shuffle-bearing inputs untouched —
    probing them with df.rdd would eagerly execute the upstream stages
    under AQE and the work would be discarded."""
    from clpspark.operators.util import rebalance_for_udf

    df = spark.range(100).groupBy("id").count()
    assert rebalance_for_udf(df) is df  # identity: no probe, no shuffle
    joined = spark.range(10).join(spark.range(10), "id")
    assert rebalance_for_udf(joined) is joined
    # a narrow single-partition input still gets rebalanced
    one = spark.range(100, numPartitions=1)
    out = rebalance_for_udf(one)
    assert out is not one
    assert out.rdd.getNumPartitions() \
        == spark.sparkContext.defaultParallelism


def test_pnm_truncated_header_raises():
    """A malformed/truncated P5/P6 header must raise, not spin the
    executor forever (the old tokenizer looped on b'' slices at EOF)."""
    from clpspark.operators.multimodal import _decode_pnm

    with pytest.raises(ValueError):
        _decode_pnm(b"P5 6 4")  # EOF mid-token (maxval missing)
    with pytest.raises(ValueError):
        _decode_pnm(b"P5\n")  # EOF between tokens
    with pytest.raises(ValueError):
        _decode_pnm(b"P6 3")  # one token then EOF
    # a comment ending at EOF (no newline) raises too, not hangs
    with pytest.raises(ValueError):
        _decode_pnm(b"P5 6 #trailing comment")
    # sanity: a whole header still decodes
    g = np.arange(24, dtype=np.uint8).reshape(4, 6)
    ok = _decode_pnm(b"P5 6 4 255\n" + g.tobytes())
    assert (ok == g).all()
