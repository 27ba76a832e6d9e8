"""Multimodal binary-column plumbing: stats built-ins, frame
sampling and the PNG/BMP/WAV codecs."""

from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.multimodal import (
    binary_stats,
    with_binary_payload,
)

SF = "/root/testdata/sf0.001"


def test_binary_stats_matches_text_derivation(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    out = binary_stats(with_binary_payload(docs, "text"), "doc_id", "payload")
    rows = {r.doc_id: r for r in out.collect()}
    for r in docs.select("doc_id", "text").collect():
        b = r.text.encode("utf-8")
        got = rows[r.doc_id]
        assert got.n_bytes == len(b)
        import hashlib

        assert got.content_md5 == hashlib.md5(b).hexdigest()
        assert got.magic_hex == b[:4].hex().upper()


def test_sample_frames_chunking_and_stride(spark):
    from end_to_end_etl_pipeline_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, b"a" * 530), (2, None), (3, b"xyz")], "id long, payload binary"
    )
    out = sample_frames(df, "id", "payload").collect()
    got = {(r.id, r.frame_idx): bytes(r.frame) for r in out}
    # id=1: 530 bytes -> 64-byte frames 0..8 (the last 18 bytes),
    # stride 4 keeps 0, 4 and 8; id=2: null payload -> no rows;
    # id=3: one short frame
    assert got == {
        (1, 0): b"a" * 64, (1, 4): b"a" * 64, (1, 8): b"a" * 18, (3, 0): b"xyz"
    }


def test_wav_blob_is_spec_exact_and_decoder_rejects_malformed(spark):
    """The JVM-side encoder must produce byte-exact canonical WAV
    (checked against a hand-built reference blob), and the numpy
    decoder must NULL out malformed payloads instead of guessing."""
    import struct

    import pandas as pd
    from pyspark.sql import functions as F

    from end_to_end_etl_pipeline_spark.operators.multimodal import (
        decode_wav_stats,
        pcm16_wav_blob,
    )

    samples = [0, 1, -1, 32760, -32760, 12345]
    df = spark.createDataFrame(
        pd.DataFrame({"pid": [1], "s": [samples]})
    ).select("pid", F.col("s").cast("array<int>").alias("s"))
    blob = df.select(pcm16_wav_blob(F.col("s")).alias("wav")).collect()[0]["wav"]
    ref = (
        b"RIFF" + struct.pack("<I", 36 + 12) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 12)
        + struct.pack("<6h", *samples)
    )
    assert bytes(blob) == ref

    bad = [
        (1, ref),                     # valid
        (2, b"RIFX" + ref[4:]),       # wrong magic
        (3, ref[:50]),                # truncated data section
        (4, None),                    # NULL payload
        (5, b"RIFF"),                 # shorter than a header
    ]
    pdf = pd.DataFrame({"pid": [r[0] for r in bad], "wav": [r[1] for r in bad]})
    got = {
        r["pid"]: (r["n_samples"], r["sample_rate"], r["peak_abs"], r["sum_amp"])
        for r in decode_wav_stats(
            spark.createDataFrame(pdf), "pid", "wav"
        ).collect()
    }
    assert got[1] == (6, 8000, 32760, sum(samples))
    for pid in (2, 3, 4, 5):
        assert got[pid] == (None, None, None, None), pid
    assert len(got) == 5  # 1:1 — malformed rows are nulled, not dropped


def test_bmp_blob_is_spec_exact_and_decoder_handles_layout(spark):
    """Encoder checked against a hand-built reference BMP (3x2,
    bottom-up rows, 4-byte stride padding); decoder must reject
    malformed payloads and honor padding + bottom-up order."""
    import struct

    import pandas as pd
    from pyspark.sql import functions as F

    from end_to_end_etl_pipeline_spark.operators.multimodal import (
        bmp24_blob,
        decode_bmp_stats,
    )

    w, h = 3, 2

    def pixel(x, y, c):
        return (F.lit(0) + x * 7 + y * 17 + c * 3).cast("int")

    df = spark.range(1).select(F.col("id").alias("pid"))
    blob = bytes(
        df.select(
            bmp24_blob(F.lit(w).cast("int"), F.lit(h).cast("int"), pixel)
            .alias("img")
        ).collect()[0]["img"]
    )
    stride = 12  # 3*3=9 -> padded to 12
    ref_hdr = (
        b"BM" + struct.pack("<I", 54 + stride * h) + b"\x00" * 4
        + struct.pack("<I", 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
                      2835, 2835, 0, 0)
    )
    px = lambda x, y, c: (x * 7 + y * 17 + c * 3) % 256  # noqa: E731
    def row(y):
        r = b"".join(
            bytes([px(x, y, 0), px(x, y, 1), px(x, y, 2)]) for x in range(w)
        )
        return r + b"\x00" * (stride - len(r))
    ref = ref_hdr + row(1) + row(0)  # bottom-up: image row 1 first
    assert blob == ref

    bad = [
        (1, ref),
        (2, b"XX" + ref[2:]),   # wrong magic
        (3, ref[:-5]),          # truncated pixel data
        (4, None),
        # pixel offset pointing INTO the header: without the off>=54
        # guard this sliced header bytes as pixels and returned
        # confident garbage instead of NULLs
        (5, ref[:10] + struct.pack("<I", 0) + ref[14:]),
        # pixel offset past the payload end
        (6, ref[:10] + struct.pack("<I", len(ref) + 1) + ref[14:]),
    ]
    pdf = pd.DataFrame({"pid": [r[0] for r in bad], "img": [r[1] for r in bad]})
    got = {
        r["pid"]: (r["width"], r["height"], r["sum_b"], r["sum_g"],
                   r["sum_r"], r["top_row_sum"])
        for r in decode_bmp_stats(spark.createDataFrame(pdf), "pid", "img").collect()
    }
    exp_sums = [
        sum(px(x, y, c) for x in range(w) for y in range(h)) for c in range(3)
    ]
    exp_top = sum(px(x, 0, c) for x in range(w) for c in range(3))
    assert got[1] == (w, h, *exp_sums, exp_top)
    for pid in (2, 3, 4, 5, 6):
        assert got[pid] == (None,) * 6, pid


def test_png_blob_is_spec_exact_and_decoder_verifies_structure(spark):
    """The JVM-side PNG encoder must be byte-exact against an
    independent Python reference (struct + zlib.crc32 + manual
    filtering + stored-block framing), and the decoder must verify
    chunk CRCs, reject malformed/interlaced/16-bit payloads, decode
    REAL-deflate (not just stored-block) streams and the RGBA color
    type, and unfilter all five scanline filters."""
    import struct
    import zlib

    import pandas as pd
    from pyspark.sql import functions as F

    from end_to_end_etl_pipeline_spark.operators.multimodal import (
        decode_png_stats,
        png_rgb8_blob,
    )

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d))
        )

    def ref_png(pid, w, h, px):
        raw = b""
        for y in range(h):
            ft = y % 5
            line = []
            for i in range(3 * w):
                x, c = i // 3, i % 3
                r = px(x, y, c)
                left = px(x - 1, y, c) if x > 0 else 0
                up = px(x, y - 1, c) if y > 0 else 0
                ul = px(x - 1, y - 1, c) if x > 0 and y > 0 else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = left
                elif ft == 2:
                    pred = up
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = (
                        left if pa <= pb and pa <= pc
                        else (up if pb <= pc else ul)
                    )
                line.append((r - pred) % 256)
            raw += bytes([ft]) + bytes(line)
        z = b"\x78\x01"
        nb = (len(raw) + 65534) // 65535
        for k in range(nb):
            blk = raw[k * 65535 : (k + 1) * 65535]
            z += (
                bytes([1 if k == nb - 1 else 0])
                + struct.pack("<HH", len(blk), 65535 - len(blk))
                + blk
            )
        z += struct.pack(">I", zlib.adler32(raw))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr) + chunk(b"IDAT", z) + chunk(b"IEND", b"")
        )

    # byte-exactness: h=6 > 5 exercises ALL FIVE filter types
    w, h = 4, 6
    px = lambda x, y, c: (11 + x * 5 + y * 19 + c * 7) % 256  # noqa: E731
    df = spark.range(1).select(F.lit(11).alias("pid"))
    blob = bytes(
        df.select(
            png_rgb8_blob(
                F.lit(w).cast("int"), F.lit(h).cast("int"),
                lambda x, y, c: F.pmod(
                    F.lit(11) + x * 5 + y * 19 + c * 7, F.lit(256)
                ).cast("int"),
            ).alias("png")
        ).collect()[0]["png"]
    )
    ref = ref_png(11, w, h, px)
    assert blob == ref

    # an RGBA fixture with REAL deflate compression (zlib.compress,
    # not stored blocks) — the decoder must accept any valid stream
    rw, rh = 3, 7
    apx = lambda x, y, c: (3 * x + 5 * y + 11 * c + 1) % 256  # noqa: E731
    araw = b""
    for y in range(rh):
        araw += b"\x00" + bytes(
            apx(x, y, c) for x in range(rw) for c in range(4)
        )
    rgba = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", rw, rh, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(araw, 6))
        + chunk(b"IEND", b"")
    )

    # flip ONE pixel byte inside IDAT without fixing the CRC: the
    # decoder's mandatory crc32 verification must reject it
    idat_off = ref.index(b"IDAT") + 4 + 10
    bad_crc = ref[:idat_off] + bytes([ref[idat_off] ^ 0xFF]) + ref[idat_off + 1 :]
    interlaced_ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    interlaced = (
        ref[:8] + chunk(b"IHDR", interlaced_ihdr) + ref[8 + 25 :]
    )
    sixteen_bit = (
        ref[:8]
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0))
        + ref[8 + 25 :]
    )
    bad = [
        (1, ref),
        (2, rgba),
        (3, b"\x89PNX" + ref[4:]),  # wrong signature
        (4, ref[:-6]),              # truncated (IEND chopped)
        (5, None),
        (6, bad_crc),
        (7, interlaced),
        (8, sixteen_bit),
        (9, ref[:8] + ref[33:]),    # first chunk is IDAT, no IHDR
    ]
    pdf = pd.DataFrame(
        {"pid": [r[0] for r in bad], "png": [r[1] for r in bad]}
    )
    got = {
        r["pid"]: (
            r["width"], r["height"], r["channels"],
            r["sum_r"], r["sum_g"], r["sum_b"], r["top_row_sum"],
        )
        for r in decode_png_stats(
            spark.createDataFrame(pdf), "pid", "png"
        ).collect()
    }
    sums = [
        sum(px(x, y, c) for x in range(w) for y in range(h)) for c in range(3)
    ]
    top = sum(px(x, 0, c) for x in range(w) for c in range(3))
    assert got[1] == (w, h, 3, *sums, top)
    asums = [
        sum(apx(x, y, c) for x in range(rw) for y in range(rh))
        for c in range(3)
    ]
    atop = sum(apx(x, 0, c) for x in range(rw) for c in range(3))
    assert got[2] == (rw, rh, 4, *asums, atop)
    for pid in (3, 4, 5, 6, 7, 8, 9):
        assert got[pid] == (None,) * 7, pid
    assert len(got) == 9  # 1:1 — malformed rows are nulled, not dropped


def test_png_decoder_bounds_inflate_and_enforces_chunk_layout(spark):
    """r09 ADVICE hardening: (a) a payload declaring small dims but
    carrying a high-ratio deflate stream must NULL out via the
    BOUNDED inflate (stride*h + 1 cap) instead of allocating the
    full decompressed size; (b) IDAT chunks separated by another
    chunk type are rejected (spec: consecutive); (c) trailing bytes
    after IEND's CRC are rejected; (d) a stream inflating longer
    than stride*h is rejected without buffering it."""
    import struct
    import zlib

    import pandas as pd

    from end_to_end_etl_pipeline_spark.operators.multimodal import (
        decode_png_stats,
    )

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    w = h = 2
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
    raw = b""
    for y in range(h):
        raw += b"\x00" + bytes((x + y) % 256 for x in range(3 * w))
    good = sig + ihdr + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    # (a) 2x2 declared, but IDAT inflates to 64 MiB of zeros
    bomb = sig + ihdr + chunk(
        b"IDAT", zlib.compress(b"\x00" * (64 << 20), 9)
    ) + chunk(b"IEND", b"")
    # (b) the IDAT split in two with a tEXt chunk between the halves
    z = zlib.compress(raw)
    split = sig + ihdr + chunk(b"IDAT", z[:4]) + chunk(
        b"tEXt", b"k\x00v"
    ) + chunk(b"IDAT", z[4:]) + chunk(b"IEND", b"")
    # (c) valid PNG followed by trailing garbage
    trailing = good + b"junk"
    # (d) stream one byte longer than stride*h
    overlong = sig + ihdr + chunk(
        b"IDAT", zlib.compress(raw + b"\x00")
    ) + chunk(b"IEND", b"")

    rows = [(1, good), (2, bomb), (3, split), (4, trailing), (5, overlong)]
    pdf = pd.DataFrame({"pid": [r[0] for r in rows],
                        "png": [r[1] for r in rows]})
    got = {
        r["pid"]: (r["width"], r["sum_r"])
        for r in decode_png_stats(
            spark.createDataFrame(pdf), "pid", "png"
        ).collect()
    }
    assert got[1][0] == w and got[1][1] is not None
    for pid in (2, 3, 4, 5):
        assert got[pid] == (None, None), pid
    assert len(got) == 5


def test_png_staged_encoder_matches_single_column_form(spark):
    """encode_png_rgb8 (the staged bulk path the gate and bench use)
    must produce byte-identical blobs to png_rgb8_blob (the
    one-Column form the byte-exactness test pins against the
    independent reference encoder) — staging is a pure evaluation
    strategy, never a semantics change."""
    from pyspark.sql import functions as F

    from end_to_end_etl_pipeline_spark.operators.multimodal import (
        encode_png_rgb8,
        png_rgb8_blob,
    )

    base = spark.range(1, 40).select(F.col("id").alias("payload_id"))
    ck = F.col("payload_id")
    width = (ck % 6 + 2).cast("int")
    height = (ck % 7 + 1).cast("int")

    def pixel(x, y, c):
        return F.pmod(ck * 13 + y * 19 + x * 5 + c * 7, F.lit(256)).cast("int")

    staged = {
        r["payload_id"]: bytes(r["png"])
        for r in encode_png_rgb8(base, width, height, pixel).collect()
    }
    single = {
        r["payload_id"]: bytes(r["png"])
        for r in base.select(
            "payload_id", png_rgb8_blob(width, height, pixel).alias("png")
        ).collect()
    }
    assert staged == single
