"""Multimodal plumbing tests: binary payload round-trip, stub decode
determinism vs a local reimplementation, frame-sampling byte
arithmetic, metadata-only pruning.
"""

from __future__ import annotations

import pytest

from commodity_price_forecasting_spark.operators.multimodal import (
    FRAME_BYTES,
    N_FEATURE_BINS,
    _fake_decode_bytes,
    decode_media,
    media_from_documents,
    real_decode,
    resize_stub,
    sample_frames,
)
from commodity_price_forecasting_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    return media_from_documents(load_table(spark, SF_DIR, "documents")).cache()


def test_payload_is_text_bytes(media, spark):
    docs = load_table(spark, SF_DIR, "documents")
    joined = media.join(docs, media.media_id == docs.doc_id).select(
        "payload", "text", "n_bytes"
    )
    for r in joined.limit(20).collect():
        assert bytes(r["payload"]) == r["text"].encode("utf-8")
        assert r["n_bytes"] == len(r["text"].encode("utf-8"))


def test_decode_matches_local_stub(media):
    out = {r["media_id"]: r for r in decode_media(media).collect()}
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert set(out) == set(src)
    for mid, payload in list(src.items())[:50]:
        want = _fake_decode_bytes(payload)
        got = out[mid]
        assert got["n_bytes"] == want["n_bytes"]
        assert got["checksum"] == want["checksum"]
        assert len(got["features"]) == N_FEATURE_BINS
        assert got["features"] == pytest.approx(want["features"])
        assert abs(sum(got["features"]) - 1.0) < 1e-9


def test_frame_sample_bytes(media):
    frames = sample_frames(media, every=10)
    rows = frames.limit(40).collect()
    assert rows
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for r in rows:
        payload = src[r["media_id"]]
        off = r["byte_offset"]
        assert r["frame_idx"] % 10 == 0
        assert off == r["frame_idx"] * FRAME_BYTES
        assert bytes(r["frame_bytes"]) == payload[off : off + FRAME_BYTES]
        assert len(r["frame_bytes"]) == FRAME_BYTES  # n_frames floor ⇒ full frames


def test_resize_rewrites_meta_only(media):
    resized = resize_stub(media, 224, 224)
    r = resized.first()
    assert r["meta"]["width"] == 224 and r["meta"]["height"] == 224
    assert resized.count() == media.count()


def test_metadata_query_prunes_payload(media, spark):
    """Inventory-style aggregation must not read the binary column:
    the optimized plan's ReadSchema should exclude ``payload``."""
    from commodity_price_forecasting_spark.plans.queries_multimodal import (
        mm_media_inventory,
    )

    # use a different sf_dir than the cached ``media`` fixture so the
    # cache manager can't substitute the payload-bearing cached plan
    plan = (
        mm_media_inventory(spark, "/root/testdata/sf0.01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # The scan feeds from documents; binary encode() must only appear
    # in projected arithmetic on n_bytes, never a payload materialize.
    assert "payload" not in plan


def test_real_decode_is_explicit_stub_for_compressed_only():
    """r7: only genuinely library-bound formats still raise, and each
    media type gets its own message (r6 ADVICE: an MP3 payload must
    not get an error about image decoding). r11: JPEG left this club
    (pure-numpy baseline decoder, tests/test_jpeg.py) — TIFF/WebP
    stand in as the remaining image gap."""
    with pytest.raises(NotImplementedError, match="WebP|PIL"):
        real_decode(b"II*\x00tiff bytes", "image")
    with pytest.raises(NotImplementedError, match="non-WAV audio"):
        real_decode(b"ID3\x04mp3 bytes", "audio")
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        real_decode(b"\x00\x00\x00 ftypmp42", "video")


# --- real WAV codec (pure numpy RIFF/PCM parser) --------------------------


def test_wav_roundtrip_8bit():
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        decode_wav,
        wav_encode,
    )

    samples = np.arange(256, dtype=np.uint8)
    blob = wav_encode(samples, bits=8, sample_rate=8000)
    d = decode_wav(blob)
    assert d["bits"] == 8 and d["sample_rate"] == 8000 and d["channels"] == 1
    assert d["n_samples"] == 256
    # 8-bit WAV is unsigned; decoder centres at 128
    assert (d["samples"] == samples.astype(np.int64) - 128).all()


def test_wav_roundtrip_16bit_sine():
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        decode_wav,
        wav_encode,
    )

    t = np.arange(1000)
    sine = (np.sin(2 * np.pi * 440 * t / 44100) * 12000).astype("<i2")
    blob = wav_encode(sine, bits=16, sample_rate=44100, channels=1)
    d = decode_wav(blob)
    assert d["bits"] == 16 and d["sample_rate"] == 44100
    assert d["n_samples"] == 1000
    assert (d["samples"] == sine.astype(np.int64)).all()


def test_wav_skips_foreign_chunks():
    """Files from real recorders carry LIST/fact chunks between fmt
    and data — the chunk walk must skip them (with odd-size pad)."""
    import struct

    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        decode_wav,
        wav_encode,
    )

    base = wav_encode(np.array([1, 2, 3, 250], dtype=np.uint8), bits=8)
    # splice a 5-byte (odd → padded) LIST chunk before "data"
    di = base.index(b"data")
    foreign = b"LIST" + struct.pack("<I", 5) + b"INFOX" + b"\x00"
    spliced = base[:di] + foreign + base[di:]
    # patch RIFF size
    spliced = (
        spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    )
    d = decode_wav(spliced)
    assert d["n_samples"] == 4
    assert list(d["samples"]) == [1 - 128, 2 - 128, 3 - 128, 250 - 128]


def test_wav_rejects_non_riff_and_non_pcm():
    import struct

    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        decode_wav,
        wav_encode,
    )

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"not a wav at all")
    blob = bytearray(wav_encode(np.array([1, 2], dtype=np.uint8), bits=8))
    blob[20:22] = struct.pack("<H", 3)  # IEEE-float format tag
    with pytest.raises(ValueError, match="PCM"):
        decode_wav(bytes(blob))


def test_real_decode_dispatches_wav():
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        wav_encode,
    )

    blob = wav_encode(np.array([128, 130], dtype=np.uint8), bits=8)
    d = real_decode(blob, "audio")
    assert list(d["samples"]) == [0, 2]


def test_wav_wrap_expr_matches_wav_encode(spark):
    """The pure-column-expression WAV wrapper must be byte-identical
    to the Python struct-pack encoder for the same sample bytes."""
    from pyspark.sql import functions as F

    from commodity_price_forecasting_spark.operators.multimodal import (
        wav_encode,
        wav_wrap,
    )

    texts = ["hello wav", "", "x" * 300, "tab\tand spaces"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    rows = {
        r["i"]: bytes(r["blob"])
        for r in df.select(
            "i", wav_wrap(F.encode(F.col("text"), "UTF-8")).alias("blob")
        ).collect()
    }
    import numpy as np

    for i, t in enumerate(texts):
        raw = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        assert rows[i] == wav_encode(raw, bits=8, sample_rate=8000)


def test_wav_media_energy_matches_stub_numbers(spark):
    """decode_wav(wav_wrap(text)) must yield the SAME energy numbers
    as the headerless pcm8 stub on the same text — the invariant that
    keeps mm_audio_energy's ascii-code oracle valid."""
    from commodity_price_forecasting_spark.operators.multimodal import (
        audio_window_energy,
        media_from_documents,
        wav_media_from_documents,
    )

    docs = load_table(spark, SF_DIR, "documents")
    stub = audio_window_energy(media_from_documents(docs), codec="pcm8")
    wav = audio_window_energy(wav_media_from_documents(docs), codec="wav")
    s = {r["media_id"]: r.asDict() for r in stub.collect()}
    w = {r["media_id"]: r.asDict() for r in wav.collect()}
    assert s == w and len(s) > 0


def test_audio_energy_drops_empty_clips(spark):
    """Zero-length payloads produce NO row (oracle drop semantics)."""
    from pyspark.sql import functions as F

    from commodity_price_forecasting_spark.operators.multimodal import (
        audio_window_energy,
        wav_wrap,
    )

    df = spark.createDataFrame(
        [(1, "loud"), (2, "")], "media_id long, text string"
    ).select(
        "media_id",
        F.lit("audio").alias("media_type"),
        wav_wrap(F.encode(F.col("text"), "UTF-8")).alias("payload"),
    )
    out = audio_window_energy(df, codec="wav").collect()
    assert [r["media_id"] for r in out] == [1]


# --- real PPM / BMP codecs (pure numpy, r7) -------------------------------


def test_ppm_roundtrip_and_comments():
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        decode_ppm,
        ppm_encode,
    )

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    blob = ppm_encode(px)
    d = decode_ppm(blob)
    assert (d["width"], d["height"], d["channels"]) == (9, 5, 3)
    assert np.array_equal(d["pixels"], px)
    # a '#' comment inside the header must be skipped (netpbm spec)
    commented = b"P6\n# made by a real tool\n9 5\n255\n" + px.tobytes()
    assert np.array_equal(decode_ppm(commented)["pixels"], px)


def test_ppm_rejects_bad_inputs():
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        decode_ppm,
        ppm_encode,
    )

    with pytest.raises(ValueError, match="P6"):
        decode_ppm(b"P3\n1 1\n255\n1 2 3")  # ASCII PPM is not P6
    with pytest.raises(ValueError, match="truncated PPM raster"):
        decode_ppm(b"P6\n4 4\n255\n" + b"\x00" * 10)
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)
    with pytest.raises(ValueError, match="truncated PPM header"):
        decode_ppm(b"P6\n1 ")
    blob = ppm_encode(np.zeros((1, 1, 3), dtype=np.uint8))
    assert decode_ppm(blob)["maxval"] == 255


def test_bmp_roundtrip_with_row_padding():
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        bmp_encode,
        decode_bmp,
    )

    rng = np.random.default_rng(11)
    # width 3 -> 9-byte rows -> 3 pad bytes per row (exercises stride)
    px = rng.integers(0, 256, size=(4, 3, 3), dtype=np.uint8)
    blob = bmp_encode(px)
    d = decode_bmp(blob)
    assert (d["width"], d["height"]) == (3, 4)
    assert np.array_equal(d["pixels"], px)
    # width 4 -> 12-byte rows -> no padding
    px2 = rng.integers(0, 256, size=(2, 4, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(bmp_encode(px2))["pixels"], px2)


def test_bmp_top_down_and_rejections():
    import struct

    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        bmp_encode,
        decode_bmp,
    )

    px = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    blob = bytearray(bmp_encode(px))
    # negate height -> top-down file: raster rows are already in
    # display order, so flip the stored body to keep the same image
    h = struct.unpack("<i", blob[22:26])[0]
    blob[22:26] = struct.pack("<i", -h)
    body = bytes(blob[54:])
    stride = len(body) // h
    flipped = b"".join(
        body[r * stride : (r + 1) * stride] for r in reversed(range(h))
    )
    d = decode_bmp(bytes(blob[:54]) + flipped)
    assert np.array_equal(d["pixels"], px)
    # compressed / non-24bpp files must raise
    bad = bytearray(bmp_encode(px))
    bad[30:34] = struct.pack("<I", 1)  # BI_RLE8
    with pytest.raises(ValueError, match="BI_RGB"):
        decode_bmp(bytes(bad))
    bad2 = bytearray(bmp_encode(px))
    bad2[28:30] = struct.pack("<H", 8)  # paletted 8-bit
    with pytest.raises(ValueError, match="BI_RGB"):
        decode_bmp(bytes(bad2))
    with pytest.raises(ValueError, match="truncated BMP raster"):
        decode_bmp(bytes(bytearray(bmp_encode(px))[:-5]))


def test_real_decode_dispatches_images():
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        bmp_encode,
        ppm_encode,
    )

    px = np.full((2, 3, 3), 7, dtype=np.uint8)
    assert np.array_equal(real_decode(ppm_encode(px), "image")["pixels"], px)
    assert np.array_equal(real_decode(bmp_encode(px), "image")["pixels"], px)


def test_wav_pad_byte_on_odd_data_chunk():
    """r6 ADVICE: odd-length data chunks must carry the RIFF pad byte
    (counted in the RIFF size, not the data size)."""
    import struct

    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        decode_wav,
        wav_encode,
    )

    blob = wav_encode(np.array([1, 2, 3], dtype=np.uint8), bits=8)
    assert len(blob) % 2 == 0  # padded to word boundary
    (riff_size,) = struct.unpack("<I", blob[4:8])
    assert riff_size == len(blob) - 8  # pad counted in RIFF size
    di = blob.index(b"data")
    (data_size,) = struct.unpack("<I", blob[di + 4 : di + 8])
    assert data_size == 3  # ...but not in the data size
    assert blob[-1:] == b"\x00"  # the pad byte itself
    assert list(decode_wav(blob)["samples"]) == [-127, -126, -125]
    # even-length data: no pad
    even = wav_encode(np.array([1, 2], dtype=np.uint8), bits=8)
    assert len(even) == 44 + 2


def test_wav_rejects_truncated_fmt_and_overrun_chunks():
    """r6 ADVICE: a truncated fmt chunk raises ValueError (not
    struct.error); a chunk whose declared size overruns the payload
    is rejected, not silently truncated."""
    import struct

    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        decode_wav,
        wav_encode,
    )

    # fmt chunk declaring only 10 body bytes
    short_fmt = (
        b"RIFF" + struct.pack("<I", 26) + b"WAVEfmt "
        + struct.pack("<I", 10) + b"\x00" * 10
    )
    with pytest.raises(ValueError, match="truncated fmt chunk"):
        decode_wav(short_fmt)
    # data chunk size overrunning the end of the payload
    blob = bytearray(wav_encode(np.array([1, 2], dtype=np.uint8), bits=8))
    blob[-6:-2] = struct.pack("<I", 1000)
    with pytest.raises(ValueError, match="overruns"):
        decode_wav(bytes(blob))


def test_ppm_wrap_expr_matches_ppm_encode(spark):
    """The pure-column-expression PPM wrapper must be byte-identical
    to the Python encoder for the same text bytes (including nb % 3
    truncation and the nb < 3 header-only case)."""
    import numpy as np
    from pyspark.sql import functions as F

    from commodity_price_forecasting_spark.operators.multimodal import (
        ppm_encode,
        ppm_wrap,
    )

    texts = ["hello ppm!", "abcdef", "xy", "", "z" * 301]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    rows = {
        r["i"]: bytes(r["blob"])
        for r in df.select(
            "i", ppm_wrap(F.encode(F.col("text"), "UTF-8")).alias("blob")
        ).collect()
    }
    for i, t in enumerate(texts):
        raw = t.encode("utf-8")
        w = len(raw) // 3
        expect = (
            ppm_encode(
                np.frombuffer(raw[: w * 3], dtype=np.uint8).reshape(1, w, 3)
            )
            if w
            else b"P6\n0 1\n255\n"
        )
        assert rows[i] == expect, t


def test_image_channel_stats_drops_tiny_and_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from commodity_price_forecasting_spark.operators.multimodal import (
        image_channel_stats,
        ppm_wrap,
    )

    texts = [(1, "abcdefghi"), (2, "xy"), (3, "0123456")]
    df = spark.createDataFrame(texts, "media_id long, text string").select(
        "media_id",
        F.lit("image").alias("media_type"),
        ppm_wrap(F.encode(F.col("text"), "UTF-8")).alias("payload"),
    )
    out = {r["media_id"]: r.asDict() for r in image_channel_stats(df).collect()}
    assert set(out) == {1, 3}  # the 2-byte payload (w=0) is dropped
    for mid, t in [(1, "abcdefghi"), (3, "0123456")]:
        raw = np.frombuffer(t.encode(), dtype=np.uint8)
        w = len(raw) // 3
        px = raw[: w * 3].reshape(w, 3).astype(np.int64)
        assert out[mid]["width"] == w and out[mid]["height"] == 1
        for j, c in enumerate(["mean_r", "mean_g", "mean_b"]):
            assert out[mid][c] == px[:, j].sum() / w, (mid, c)


# --- real NN resize (r7) --------------------------------------------------


def test_resize_pixels_nn_rule():
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        resize_pixels,
    )

    px = np.arange(2 * 4 * 3, dtype=np.uint8).reshape(2, 4, 3)
    up = resize_pixels(px, 8, 4)  # 2x upsample: each cell duplicated
    assert up.shape == (4, 8, 3)
    for r2 in range(4):
        for c2 in range(8):
            assert (up[r2, c2] == px[r2 // 2, c2 // 2]).all()
    down = resize_pixels(px, 2, 1)  # floor rule: cols 0 and 2, row 0
    assert down.shape == (1, 2, 3)
    assert (down[0, 0] == px[0, 0]).all()
    assert (down[0, 1] == px[0, 2]).all()
    with pytest.raises(ValueError, match="empty"):
        resize_pixels(np.zeros((1, 0, 3), dtype=np.uint8), 4, 4)


def test_resize_image_keeps_container_format():
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        bmp_encode,
        decode_bmp,
        decode_ppm,
        ppm_encode,
        resize_image,
    )

    px = np.arange(3 * 5 * 3, dtype=np.uint8).reshape(3, 5, 3)
    out_ppm = resize_image(ppm_encode(px), 10, 6)
    assert out_ppm[:2] == b"P6"
    d = decode_ppm(out_ppm)
    assert (d["width"], d["height"]) == (10, 6)
    assert (d["pixels"][0, 0] == px[0, 0]).all()
    out_bmp = resize_image(bmp_encode(px), 2, 2)
    assert out_bmp[:2] == b"BM"
    d2 = decode_bmp(out_bmp)
    assert (d2["width"], d2["height"]) == (2, 2)
    # NN: (r2,c2) reads (floor(r2*3/2), floor(c2*5/2))
    assert (d2["pixels"][1, 1] == px[1, 2]).all()


def test_resize_media_real_passthrough_non_images(spark):
    from pyspark.sql import functions as F

    from commodity_price_forecasting_spark.operators.multimodal import (
        ppm_wrap,
        resize_media_real,
        wav_wrap,
    )

    df = spark.createDataFrame(
        [(1, "audio", "abc"), (2, "image", "rgbRGBrgb")],
        "media_id long, media_type string, text string",
    ).select(
        "media_id",
        "media_type",
        F.when(
            F.col("media_type") == "audio",
            wav_wrap(F.encode(F.col("text"), "UTF-8")),
        )
        .otherwise(ppm_wrap(F.encode(F.col("text"), "UTF-8")))
        .alias("payload"),
    )
    rows = {
        r["media_id"]: bytes(r["payload"])
        for r in resize_media_real(df, 2, 1).collect()
    }
    assert rows[1][:4] == b"RIFF"  # audio untouched
    assert rows[2][:2] == b"P6"  # image resized, still PPM
    from commodity_price_forecasting_spark.operators.multimodal import (
        decode_ppm,
    )

    d = decode_ppm(rows[2])
    assert (d["width"], d["height"]) == (2, 1)
    # source "rgbRGBrgb" -> 3 px; NN cols (0*3)//2=0, (1*3)//2=1
    assert [chr(c) for c in d["pixels"][0, 0]] == ["r", "g", "b"]
    assert [chr(c) for c in d["pixels"][0, 1]] == ["R", "G", "B"]


def test_resize_and_stats_survive_null_and_tiny_payloads(spark):
    """r7 self-review finding #2: NULL payloads and zero-pixel
    containers must not kill the executor — resize passes them
    through, the stats consumers drop them."""
    from pyspark.sql import functions as F

    from commodity_price_forecasting_spark.operators.multimodal import (
        audio_window_energy,
        image_channel_stats,
        ppm_wrap,
        resize_media_real,
    )

    df = spark.createDataFrame(
        [(1, "image", "abcdefghi"), (2, "image", "xy"), (3, "image", None)],
        "media_id long, media_type string, text string",
    ).select(
        "media_id",
        "media_type",
        F.when(
            F.col("text").isNotNull(),
            ppm_wrap(F.encode(F.col("text"), "UTF-8")),
        ).alias("payload"),
    )
    resized = resize_media_real(df, 2, 1)
    rows = {r["media_id"]: r["payload"] for r in resized.collect()}
    assert rows[3] is None  # null passthrough
    assert bytes(rows[2]) == b"P6\n0 1\n255\n"  # zero-pixel passthrough
    stats = image_channel_stats(resized).collect()
    assert [r["media_id"] for r in stats] == [1]  # only the real image
    # audio: null payload produces no row, no crash
    adf = spark.createDataFrame(
        [(7, "audio", None)], "media_id long, media_type string, payload binary"
    )
    assert audio_window_energy(adf, codec="wav").collect() == []


# --- real PNG codec (stdlib zlib + numpy unfilter) -------------------------


def test_png_roundtrip_rgb_and_rgba():
    """encode → decode is the identity for 8-bit truecolor, both with
    and without an alpha plane (r7 VERDICT ask #4)."""
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        decode_png,
        png_encode,
    )

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    d = decode_png(png_encode(rgb))
    assert (d["width"], d["height"], d["channels"]) == (9, 5, 3)
    assert np.array_equal(d["pixels"], rgb)

    rgba = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8)
    d4 = decode_png(png_encode(rgba))
    assert d4["channels"] == 4
    assert np.array_equal(d4["pixels"], rgba)


def _forward_filter(pixels, ftypes):
    """Build the FILTERED byte stream of an image with a chosen
    per-row filter type — the test-side forward transform (RFC 2083
    §6) whose inversion decode_png implements."""
    import numpy as np

    a = np.asarray(pixels, dtype=np.int64)
    h, w, c = a.shape
    flat = a.reshape(h, w * c)
    out = []
    for r, f in enumerate(ftypes):
        cur = flat[r]
        prev = flat[r - 1] if r else np.zeros(w * c, dtype=np.int64)
        if f == 0:
            enc = cur
        elif f == 1:
            left = np.concatenate([np.zeros(c, dtype=np.int64), cur[:-c]])
            enc = (cur - left) % 256
        elif f == 2:
            enc = (cur - prev) % 256
        elif f == 3:
            left = np.concatenate([np.zeros(c, dtype=np.int64), cur[:-c]])
            enc = (cur - (left + prev) // 2) % 256
        elif f == 4:
            from commodity_price_forecasting_spark.operators.multimodal import (
                _paeth,
            )

            enc = np.empty(w * c, dtype=np.int64)
            for i in range(w * c):
                left = int(cur[i - c]) if i >= c else 0
                ul = int(prev[i - c]) if i >= c else 0
                enc[i] = (cur[i] - _paeth(left, int(prev[i]), ul)) % 256
        out.append(bytes([f]) + bytes(enc.astype(np.uint8)))
    return b"".join(out)


def test_png_decode_inverts_every_filter_type():
    """Hand-assemble a PNG whose five rows use filters 0-4 (our
    encoder only emits 0; foreign files use all five) and check the
    decoder reconstructs the exact pixels."""
    import struct
    import zlib

    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        PNG_SIG,
        _png_chunk,
        decode_png,
    )

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    raw = _forward_filter(px, [0, 1, 2, 3, 4])
    ihdr = struct.pack(">IIBBBBB", 6, 5, 8, 2, 0, 0, 0)
    payload = (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    d = decode_png(payload)
    assert np.array_equal(d["pixels"], px)


def test_png_rejects_bad_inputs():
    """Corruption and out-of-scope features fail loudly with the
    limitation named: bad magic, CRC mismatch, truncated chunk,
    palette color type, interlacing."""
    import struct
    import zlib

    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        PNG_SIG,
        _png_chunk,
        decode_png,
        png_encode,
    )

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\x89PNX rest")
    good = png_encode(np.zeros((1, 2, 3), dtype=np.uint8))
    # flip one raster byte inside the IDAT body -> CRC mismatch
    bad = bytearray(good)
    bad[-18] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(bad))
    # cutting into the closing IEND leaves a stream with no IEND —
    # a truncated file, flagged as such (the decoder must not accept
    # a file that merely happens to have IHDR+IDAT intact)
    with pytest.raises(ValueError, match="truncated PNG"):
        decode_png(good[:-6])
    # cutting into the IDAT body trips the declared-length check
    with pytest.raises(ValueError, match="truncated PNG chunk"):
        decode_png(good[: len(good) - 14])

    def container(color_type=2, interlace=0, depth=8):
        ihdr = struct.pack(">IIBBBBB", 2, 1, depth, color_type, 0, 0, interlace)
        raw = b"\x00" + bytes(6)
        return (
            PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )

    # short IHDR body must raise the contract ValueError, not a
    # struct.error leaking from unpack (r8 ADVICE)
    short_ihdr = struct.pack(">IIBBB", 2, 1, 8, 2, 0)
    with pytest.raises(ValueError, match="IHDR chunk length"):
        decode_png(
            PNG_SIG
            + _png_chunk(b"IHDR", short_ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"\x00" + bytes(6)))
            + _png_chunk(b"IEND", b"")
        )
    with pytest.raises(ValueError, match="color_type=3"):
        decode_png(container(color_type=3))
    with pytest.raises(ValueError, match="Adam7"):
        decode_png(container(interlace=1))
    with pytest.raises(ValueError, match="depth=16"):
        decode_png(container(depth=16))


def test_real_decode_dispatches_png_and_resize_keeps_format():
    """The magic dispatch routes PNG to the real parser; resize
    re-encodes PNG as PNG (reencode_image); library-bound formats
    (TIFF/WebP) still raise."""
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        PNG_SIG,
        png_encode,
        real_decode,
        resize_image,
    )

    px = np.arange(36, dtype=np.uint8).reshape(2, 6, 3)
    blob = png_encode(px)
    assert np.array_equal(real_decode(blob, "image")["pixels"], px)
    resized = resize_image(blob, 3, 1)
    assert resized[:8] == PNG_SIG
    d = real_decode(resized, "image")
    assert (d["width"], d["height"]) == (3, 1)
    # NN rule: target col j reads source col floor(j*6/3), row 0
    assert np.array_equal(d["pixels"], px[[0]][:, [0, 2, 4]])
    with pytest.raises(NotImplementedError, match="WebP|PIL"):
        real_decode(b"II*\x00tiff bytes", "image")


def test_png_channel_stats_rgba_ignores_alpha(spark):
    """image_channel_stats over a 4-channel PNG reports RGB means
    with the alpha plane excluded."""
    import numpy as np

    from commodity_price_forecasting_spark.operators.multimodal import (
        image_channel_stats,
        png_encode,
    )

    rgba = np.zeros((2, 2, 4), dtype=np.uint8)
    rgba[..., 0] = 10
    rgba[..., 1] = 20
    rgba[..., 2] = 30
    rgba[..., 3] = 255  # alpha must not leak into the means
    df = spark.createDataFrame(
        [(1, "image", bytearray(png_encode(rgba)))],
        "media_id long, media_type string, payload binary",
    )
    row = image_channel_stats(df).collect()[0]
    assert (row["mean_r"], row["mean_g"], row["mean_b"]) == (10.0, 20.0, 30.0)
    assert (row["width"], row["height"]) == (2, 2)


def test_png_media_lane_matches_ppm_lane(spark):
    """The PNG fixture lane must produce the SAME channel stats as
    the PPM lane (same pixel values = the text bytes), proving the
    zlib round trip is value-exact end-to-end in the executors."""
    from commodity_price_forecasting_spark.operators.multimodal import (
        image_channel_stats,
        png_media_from_documents,
        ppm_media_from_documents,
    )

    docs = load_table(spark, SF_DIR, "documents")
    png_rows = sorted(
        tuple(r) for r in image_channel_stats(
            png_media_from_documents(docs)
        ).collect()
    )
    ppm_rows = sorted(
        tuple(r) for r in image_channel_stats(
            ppm_media_from_documents(docs)
        ).collect()
    )
    assert png_rows == ppm_rows and len(png_rows) > 50
