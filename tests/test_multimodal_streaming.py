"""Multimodal binary plumbing (stubbed codecs, real Arrow paths) and
Structured Streaming windows / sessionization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vega_spark.functions import multimodal as M
from vega_spark.streaming import sources as S
from vega_spark.streaming import windows as W


def bin_docs(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "a much longer text payload for frames " * 4)],
        "doc_id long, text string")
    return M.attach_binary(df, "text")


def test_image_metadata_deterministic(spark):
    df = bin_docs(spark)
    a = {(r.asset_id, r.width, r.height) for r in M.image_metadata(df).collect()}
    b = {(r.asset_id, r.width, r.height) for r in M.image_metadata(df).collect()}
    assert a == b and len(a) == 2
    for _, w, h in a:
        assert 16 <= w < 256 and 16 <= h < 256


def test_real_decode_raises_without_pil(spark):
    # gate itself under test (the protobuf-gate pattern): when Pillow
    # is absent, decode='real' must fail EXPLICITLY at the codec slot
    if M.pil_image() is not None:
        pytest.skip("Pillow present — real-decode path tested below")
    df = bin_docs(spark)
    with pytest.raises(Exception, match="NotImplementedError|Pillow"):
        M.image_metadata(df, decode="real").collect()


def _png_docs(spark):
    # deterministic real images: 3x2 red PNG and 5x4 RGBA PNG
    import io

    from PIL import Image
    rows = []
    for i, (size, mode) in enumerate([((3, 2), "RGB"), ((5, 4), "RGBA")]):
        buf = io.BytesIO()
        Image.new(mode, size, (200, 10, 10, 255)[: len(mode)]).save(buf, "PNG")
        rows.append((i + 1, buf.getvalue()))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_real_decode_with_pil(spark):
    if M.pil_image() is None:
        pytest.skip("Pillow not installed in this environment")
    df = _png_docs(spark)
    meta = {r.asset_id: r for r in
            M.image_metadata(df, decode="real").collect()}
    assert (meta[1].width, meta[1].height, meta[1].channels,
            meta[1].format) == (3, 2, 3, "png")
    assert (meta[2].width, meta[2].height, meta[2].channels) == (5, 4, 4)
    rs = M.resize_images(df, 8, 8, decode="real").collect()
    assert all(r.width == 8 and r.height == 8 for r in rs)
    fr = M.sample_frames(df, decode="real").collect()
    assert {r.asset_id for r in fr} == {1, 2}  # 1 frame per still image
    fe = M.feature_extract(df, dim=8, decode="real").collect()
    for r in fe:
        assert len(r.embedding) == 8
        assert abs(sum(r.embedding) - 1.0) < 1e-6  # normalized histogram


def test_resize_and_frames(spark):
    df = bin_docs(spark)
    out = M.resize_images(df, 32, 32).collect()
    assert all(r.width == 32 and r.height == 32 for r in out)
    frames = M.sample_frames(df, every_n_bytes=16, max_frames=4).collect()
    assert len(frames) >= 3  # doc 2 yields multiple frames
    assert {r.asset_id for r in frames} == {1, 2}


def test_feature_extract_shape(spark):
    df = bin_docs(spark)
    out = M.feature_extract(df, dim=8).collect()
    assert all(len(r.embedding) == 8 for r in out)
    # deterministic: same content → same vector
    again = M.feature_extract(df, dim=8).collect()
    assert {(r.asset_id, tuple(r.embedding)) for r in out} == \
           {(r.asset_id, tuple(r.embedding)) for r in again}


# --- streaming ---------------------------------------------------------------

def _event_frame(spark):
    rows = [
        ("2024-01-01 00:01:00", "click", 1.0),
        ("2024-01-01 00:02:00", "click", 2.0),
        ("2024-01-01 00:07:00", "click", 3.0),
        ("2024-01-01 00:01:30", "view", 5.0),
        ("2024-01-01 02:00:00", "click", 7.0),
    ]
    return spark.createDataFrame(rows, "ts_s string, event_type string, value double") \
        .select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")


def test_windowed_agg_batch(spark):
    out = W.windowed_agg(_event_frame(spark), "ts", "event_type", "value",
                         window_len="5 minutes")
    got = {(r.win.start.hour, r.win.start.minute, r.event_type): (r.n, r.total)
           for r in out.collect()}
    assert got[(0, 0, "click")] == (2, 3.0)
    assert got[(0, 5, "click")] == (1, 3.0)
    assert got[(0, 0, "view")] == (1, 5.0)
    assert got[(2, 0, "click")] == (1, 7.0)


def test_sessionize_batch(spark):
    out = W.sessionize(_event_frame(spark), "ts", "event_type", gap="10 minutes")
    clicks = [r for r in out.collect() if r.event_type == "click"]
    # 00:01,00:02,00:07 merge into one session; 02:00 is its own
    assert sorted(r.n_events for r in clicks) == [1, 3]


def test_streaming_memory_sink(spark, tmp_path):
    # bounded parquet dir driven as a real stream
    src = str(tmp_path / "stream_src")
    _event_frame(spark).write.parquet(src)
    schema = "ts timestamp, event_type string, value double"

    def build(s):
        stream = s.readStream.schema(schema).parquet(src)
        return W.windowed_counts(stream, "ts", "event_type",
                                 window_len="5 minutes")
    rows = S.drain_to_memory(spark, build, src,
                             output_mode="complete").collect()
    assert sum(r.n for r in rows) == 5


def _wav_bytes(freq_scale: float, n: int = 1024, sr: int = 8000) -> bytes:
    """Synthesize a mono 16-bit WAV fully in stdlib+numpy."""
    import io
    import wave

    import numpy as np
    t = np.arange(n)
    pcm = (np.sin(t * freq_scale) * 12000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def test_audio_metadata_real_wav_parses_exactly(spark):
    from vega_spark.functions.multimodal import audio_metadata
    rows = [(1, _wav_bytes(0.1, n=1024, sr=8000)),
            (2, _wav_bytes(0.3, n=2048, sr=16000))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.asset_id: r for r in
           audio_metadata(df, decode="real").collect()}
    assert (got[1].sample_rate, got[1].n_channels, got[1].n_frames) \
        == (8000, 1, 1024)
    assert got[1].duration_ms == 1000.0 * 1024 / 8000
    assert (got[2].sample_rate, got[2].n_frames) == (16000, 2048)


def test_audio_frame_energy_real_rms_and_vad_gate(spark):
    import numpy as np
    from vega_spark.functions.multimodal import (audio_frame_energy,
                                                 speech_activity_ratio)
    # loud sine vs digital silence: RMS separates them cleanly
    import io
    import wave
    buf = io.BytesIO()
    silent = np.zeros(1024, dtype="<i2")
    with wave.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(2); w.setframerate(8000)
        w.writeframes(silent.tobytes())
    rows = [(1, _wav_bytes(0.5)), (2, buf.getvalue())]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    frames = audio_frame_energy(df, window=64, stride=128,
                                max_frames=4, decode="real")
    ratios = {r.asset_id: r.active_ratio for r in
              speech_activity_ratio(frames, threshold=100.0).collect()}
    assert ratios[1] == 1.0 and ratios[2] == 0.0
    # per-frame RMS matches a numpy recompute for the loud asset
    pcm = np.frombuffer(_wav_bytes(0.5)[44:], dtype="<i2")
    got = sorted((r.frame_idx, r.energy) for r in frames.collect()
                 if r.asset_id == 1)
    for i, e in got:
        seg = pcm[i * 128: i * 128 + 64].astype("float64")
        assert abs(e - float(np.sqrt((seg * seg).mean()))) < 1e-9


def test_audio_fake_decode_deterministic(spark):
    from vega_spark.functions.multimodal import (attach_binary,
                                                 audio_frame_energy,
                                                 audio_metadata)
    docs = spark.createDataFrame([(1, "hello world " * 20)],
                                 "doc_id long, text string")
    a = attach_binary(docs, "text")
    m1 = audio_metadata(a).first()
    m2 = audio_metadata(a).first()
    assert m1 == m2 and m1.sample_rate in (8000, 16000, 44100)
    e1 = [(r.frame_idx, r.energy)
          for r in audio_frame_energy(a).orderBy("frame_idx").collect()]
    e2 = [(r.frame_idx, r.energy)
          for r in audio_frame_energy(a).orderBy("frame_idx").collect()]
    assert e1 == e2 and len(e1) > 0


def test_parse_image_header_formats():
    import struct

    from vega_spark.functions.multimodal import (
        make_test_png, parse_image_header)
    assert parse_image_header(make_test_png(31, 17)) == ("png", 31, 17)
    gif = b"GIF89a" + struct.pack("<HH", 640, 480)
    assert parse_image_header(gif) == ("gif", 640, 480)
    jpeg = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
            + bytes(9) + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 33, 44) + bytes(10))
    assert parse_image_header(jpeg) == ("jpeg", 44, 33)
    bmp = b"BM" + bytes(16) + struct.pack("<ii", 99, -55)
    assert parse_image_header(bmp) == ("bmp", 99, 55)
    assert parse_image_header(b"not an image") is None
    assert parse_image_header(b"") is None


def test_image_header_metadata_real_decode(spark):
    import pandas as pd

    from vega_spark.functions.multimodal import (
        image_header_metadata, make_test_png)
    rows = [(1, make_test_png(8, 4)), (2, make_test_png(3, 9)),
            (3, b"garbage bytes")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary") \
        .repartition(2)
    got = {r.asset_id: r for r in image_header_metadata(df).collect()}
    assert (got[1].format, got[1].width, got[1].height) == ("png", 8, 4)
    assert (got[2].format, got[2].width, got[2].height) == ("png", 3, 9)
    assert got[3].format == "unknown" and got[3].width is None
    assert got[1].n_bytes == len(make_test_png(8, 4))


def test_watermark_drops_late_rows_after_one_batch_lag(spark):
    """Spark applies an advanced watermark to input filtering one
    batch late: stragglers arriving two batches after the head are
    dropped (numRowsDroppedByWatermark counts them); the append sink
    must emit only head windows closed by the watermark."""
    import datetime

    from pyspark.sql import functions as F

    from vega_spark.streaming.sources import stage_arrivals

    D = datetime.datetime
    batches = [
        [(D(2024, 1, 10, 12, 0, 5), "a"), (D(2024, 1, 10, 13, 59, 0), "a")],
        [(D(2024, 1, 10, 11, 30, 0), "a")],
        [(D(2024, 1, 10, 1, 0, 0), "late"), (D(2024, 1, 10, 2, 30, 0), "late")],
    ]
    stage = stage_arrivals(spark, *[
        spark.createDataFrame(rows, "ts timestamp, k string")
        for rows in batches])
    stream = (spark.readStream.schema("ts timestamp, k string")
              .option("maxFilesPerTrigger", 1).parquet(stage))
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"), "k")
           .agg(F.count("*").alias("n")))
    q = (agg.writeStream.format("memory").queryName("wmdrop")
         .outputMode("append").start())
    q.processAllAvailable()
    dropped = sum(so.get("numRowsDroppedByWatermark", 0)
                  for p in q.recentProgress
                  for so in p["stateOperators"])
    q.stop()
    got = {(r.w.start.hour, r.k, r.n)
           for r in spark.table("wmdrop").collect()}
    # both stragglers dropped; emitted = head windows with
    # end <= wm (12:59): the 11:00 window only
    assert dropped == 2
    assert got == {(11, "a", 1)}


# --- stdlib PNG pixel codec (codec-free decode='real') ----------------------

def test_png_codec_roundtrip_all_filters_and_channels():
    # 22+ rows → the rotating encoder exercises every PNG filter
    # type (0-4); every supported channel count round-trips exactly
    import numpy as np
    rng = np.random.RandomState(11)
    for shape in [(9, 13), (23, 31), (7, 5, 2), (6, 8, 3), (11, 4, 4)]:
        a = rng.randint(0, 256, size=shape).astype(np.uint8)
        back = M.decode_png(M.encode_png(a))
        exp = a if a.ndim == 3 else a[:, :, None]
        assert (back == exp).all()
        # header parser agrees with the pixel decoder on dims
        fmt, w, h = M.parse_image_header(M.encode_png(a))
        assert (fmt, w, h) == ("png", shape[1], shape[0])


def test_png_decode_rejects_non_png_and_unsupported():
    import numpy as np
    import pytest as _pt
    with _pt.raises(NotImplementedError):
        M.decode_png(b"not a png at all............")
    # 16-bit depth is out of contract: flip depth byte in a valid PNG
    png = bytearray(M.encode_png(np.zeros((2, 2), dtype=np.uint8)))
    png[24] = 16  # IHDR bit-depth field
    with _pt.raises(NotImplementedError):
        M.decode_png(bytes(png))


def test_pattern_png_matches_formula_and_wraps():
    import numpy as np
    d = M.decode_png(M.make_pattern_png(30, 25))[:, :, 0]
    xs, ys = np.meshgrid(np.arange(30), np.arange(25))
    assert (d == (xs * 31 + ys * 57) % 256).all()
    assert d.max() > 250 and d.min() < 5  # mod-256 wrap exercised


def test_resize_nearest_pinned_index_map():
    import numpy as np
    a = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    r = M.resize_nearest(a, 2, 2)
    # src = floor(dst * src_dim / dst_dim): rows [0,1], cols [0,2]
    assert r[:, :, 0].tolist() == [[0, 2], [4, 6]]


def test_real_pixel_paths_run_codec_free(spark):
    # the decode='real' pixel kernels must run with NO codec installed
    # (stdlib PNG path) — the VERDICT r01 gap this closes
    import numpy as np
    rows = [(1, M.make_pattern_png(9, 7)), (2, M.make_pattern_png(16, 5))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    stats = {r.asset_id: r for r in M.image_pixel_stats(df).collect()}
    for i, (w, h) in [(1, (9, 7)), (2, (16, 5))]:
        xs, ys = np.meshgrid(np.arange(w), np.arange(h))
        assert stats[i].n_px == w * h
        assert stats[i].sum_px == int(((xs * 31 + ys * 57) % 256).sum())

    rs = M.resize_images(df, 4, 3, decode="real").collect()
    assert all(r.width == 4 and r.height == 3 for r in rs)
    for r in rs:
        assert M.decode_png(bytes(r.payload)).shape == (3, 4, 1)

    fe = M.feature_extract(df, dim=8, decode="real").collect()
    for r in fe:
        assert len(r.embedding) == 8
        assert abs(sum(r.embedding) - 1.0) < 1e-6


def test_to_grayscale_luma_weights():
    import numpy as np
    px = np.zeros((1, 3, 3), dtype=np.uint8)
    px[0, 0] = (255, 0, 0)
    px[0, 1] = (0, 255, 0)
    px[0, 2] = (0, 0, 255)
    g = M.to_grayscale(px)
    assert g[0].tolist() == [255 * 299 // 1000, 255 * 587 // 1000,
                             255 * 114 // 1000]


# --- perceptual hashes -------------------------------------------------------

def test_image_dhash_identical_and_perturbed(spark):
    import numpy as np
    import pandas as pd

    base = ((np.arange(24)[:, None] * 7 + np.arange(32)[None, :] * 11)
            % 256).astype(np.uint8)
    tweaked = base.copy()
    tweaked[3, 4] = (int(tweaked[3, 4]) + 96) % 256  # local edit
    rows = [(1, M.encode_png(base)), (2, M.encode_png(base)),
            (3, M.encode_png(tweaked))]
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["doc_id", "payload"]))
    got = {r.asset_id: (r.dhash, r.ahash)
           for r in M.image_dhash(df).collect()}
    assert got[1] == got[2]                      # identical -> same hashes
    d12 = bin(got[1][0] ^ got[3][0]).count("1")
    assert 0 <= d12 <= 6                         # local edit -> near hash


def test_hamming_pairs_match_bruteforce(spark):
    # pigeonhole blocking must find EXACTLY the pairs a quadratic
    # scan finds (it is exact, not approximate)
    import itertools
    import random

    rng = random.Random(7)
    base = rng.getrandbits(64)

    def signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    hashes = []
    for i in range(40):
        u = base
        for _ in range(rng.randrange(0, 6)):
            u ^= 1 << rng.randrange(64)
        hashes.append((i, signed(u)))
    df = spark.createDataFrame(hashes, "asset_id long, dhash long")
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in M.hamming_near_dup_pairs(df, max_hamming=3).collect()}
    want = set()
    for (ia, ha), (ib, hb) in itertools.combinations(hashes, 2):
        d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
        if d <= 3:
            want.add((min(ia, ib), max(ia, ib), d))
    assert got == want


def test_hamming_pair_counts_match_pair_enumeration(spark):
    # the collapsed class-count form (r9 opt: blocking over DISTINCT
    # signatures, class-size arithmetic) must return EXACTLY
    # hamming_near_dup_pairs(...).groupBy("hamming").count() — same
    # values AND same schema — on a corpus composed of the shapes
    # that matter: an identical-signature clique (hamming 0, the
    # quadratic hot class), near classes 1-3 bits apart with
    # multiplicities, a far singleton, and a null signature (which
    # the pair form silently drops: null keys never equi-join)
    def signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    base = (1 << 63) | 0x0123456789ABCDEF  # exercises the signed wrap
    rows, i = [], 0
    for fp, g in [(base, 4),            # clique of 4: C(4,2)=6 at h=0
                  (base ^ 1, 2),        # 1 bit away, size 2
                  (base ^ 0b110, 3),    # 2 bits away, size 3
                  (base ^ (1 << 40) ^ (1 << 41) ^ 1, 1),  # 3 bits
                  (base ^ 0xFFFF, 1)]:  # far: no pair within budget
        for _ in range(g):
            rows.append((i, signed(fp)))
            i += 1
    rows.append((i, None))
    df = spark.createDataFrame(rows, "asset_id long, dhash long")
    pairs = M.hamming_near_dup_pairs(df, max_hamming=3)
    want_df = pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs"))
    got_df = M.hamming_near_dup_pair_counts(df, max_hamming=3)
    assert got_df.schema == want_df.schema
    want = {r.hamming: r.n_pairs for r in want_df.collect()}
    got = {r.hamming: r.n_pairs for r in got_df.collect()}
    assert got == want
    # cross-check the arithmetic independently of BOTH plans:
    # h0 = C(4,2)+C(2,2)+C(3,2); h1 = A·B (xor=1); h2 = A·C (0b110)
    # + B·D (bits 40,41); h3 = A·D (bits 40,41,0) + B·C (0b111)
    assert got == {0: 6 + 1 + 3, 1: 4 * 2, 2: 4 * 3 + 2 * 1,
                   3: 4 * 1 + 2 * 3}


def test_dhash_signed_wrap_bit63(spark):
    # an image whose dHash sets bit 63 must come back as a negative
    # long (two's-complement wrap), not overflow
    import numpy as np
    import pandas as pd

    # bit 63 = (y=7, x=7): need p(7,7) > p(8,7) in the 9x8 resample.
    # A left-to-right DECREASING ramp sets every dhash bit.
    img = (255 - np.arange(18)[None, :].repeat(16, axis=0) * 14) \
        .astype(np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame([(1, M.encode_png(img))],
                     columns=["doc_id", "payload"]))
    row = M.image_dhash(df).collect()[0]
    assert row.dhash == -1  # all 64 bits set


def test_audio_zcr_fingerprint_roundtrip(spark):
    # engine output must equal a direct numpy replay of the formula
    import numpy as np
    import pandas as pd

    ids = [0, 7, 130]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids,
                      "payload": [M.make_test_wav(i) for i in ids]}))
    got = {(r.asset_id, r.frame_idx): (r.zcr, r.sum_abs)
           for r in M.audio_zcr_fingerprint(df).collect()}
    for i in ids:
        a, n = 3 + i % 5, 256 + i % 128
        pcm = ((a * np.arange(n) + i) % 4096) - 2048
        for fi in range(min(4, n // 64)):
            seg = pcm[fi * 64:(fi + 1) * 64]
            neg = seg < 0
            assert got[(i, fi)] == (int((neg[1:] != neg[:-1]).sum()),
                                    int(np.abs(seg).sum()))
    assert len(got) == sum(min(4, (256 + i % 128) // 64) for i in ids)


def test_hamming_near_dup_rejects_unblockable_budget(spark):
    # ADVICE r2: max_hamming >= 16 breaks the pigeonhole guarantee on
    # 64-bit signatures — must raise, never silently miss pairs
    import pytest as _pytest

    from vega_spark.functions.multimodal import hamming_near_dup_pairs

    hashes = spark.createDataFrame([(1, 5), (2, 7)],
                                   "asset_id long, dhash long")
    with _pytest.raises(ValueError, match="max_hamming"):
        hamming_near_dup_pairs(hashes, max_hamming=16)
    # boundary budget still works
    assert hamming_near_dup_pairs(hashes, max_hamming=15).count() == 1
