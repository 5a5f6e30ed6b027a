"""Unit tests for the training-data operators (dedup family, similarity,
multimodal plumbing) against hand-computed expectations."""

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (4, "completely different words about spark and shuffles here"),
        (5, "THE  quick   brown fox jumps over the lazy dog today"),  # ws/case
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_normalizes_ws_and_case(docs):
    from transmogrify_webcrawler_spark.operators.textops import dedup_exact

    out = {r["keep_doc_id"]: r["n_dupes"]
           for r in dedup_exact(docs).collect()}
    assert out[1] == 3  # docs 1, 2, 5 collapse
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    from transmogrify_webcrawler_spark.operators.textops import (
        ngram_jaccard_pairs)

    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 5)] == 1.0
    assert 0.4 <= pairs[(1, 3)] < 1.0  # one word differs
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_dups_and_estimates(docs):
    from transmogrify_webcrawler_spark.operators.textops import (
        minhash_lsh_pairs)

    pairs = {(r["a"], r["b"]): r["est_jaccard"]
             for r in minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0  # identical signatures
    assert (1, 4) not in pairs


def test_simhash_hamming_zero_for_identical(docs):
    from transmogrify_webcrawler_spark.operators.textops import simhash_pairs

    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 5)] == 0  # case/ws-insensitive tokens


def test_lang_id_and_quality(docs):
    from transmogrify_webcrawler_spark.operators.textops import (
        lang_id, quality_score, token_count)

    lang = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert lang[1] == "en"
    q = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert q[1]["n_words"] == 10
    t = {r["doc_id"]: r["n_tokens_ws"] for r in token_count(docs).collect()}
    assert t[5] == 10  # multi-space runs don't create tokens


def test_brute_force_knn_self_similarity_excluded(spark):
    from transmogrify_webcrawler_spark.operators.similarity import (
        brute_force_knn)

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05])],
        ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = brute_force_knn(emb, q, k=2).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] == [3, 1]
    assert all(r["vec_id"] != 0 for r in out)


def test_lsh_knn_recall_on_clustered_vectors(spark):
    from transmogrify_webcrawler_spark.operators.similarity import (
        brute_force_knn, lsh_knn)

    import random
    rng = random.Random(7)
    rows = []
    for i in range(200):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        rows.append((i, [b + rng.gauss(0, 0.05) for b in base]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = {(r["q_id"], r["vec_id"])
             for r in brute_force_knn(emb, q, k=5).collect()}
    approx = {(r["q_id"], r["vec_id"])
              for r in lsh_knn(emb, q, k=5, n_planes=6, dim=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall  # bucketed ANN trades recall for scale


def test_lsh_knn_recall_at_dim_256(spark):
    """Real-embedding-dim regression: the signature UDF is one matrix
    multiply per Arrow batch (plan size O(1) in dim/planes — the Catalyst
    literal-unrolled alternative blows up codegen at 768+ dims)."""
    from transmogrify_webcrawler_spark.operators.similarity import (
        brute_force_knn, lsh_knn)

    import random
    rng = random.Random(11)
    dim = 256
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(2)]
    rows = []
    for i in range(300):
        c = centers[i % 2]
        rows.append((i, [x + rng.gauss(0, 0.15) for x in c]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = {(r["q_id"], r["vec_id"])
             for r in brute_force_knn(emb, q, k=5).collect()}
    approx = {(r["q_id"], r["vec_id"])
              for r in lsh_knn(emb, q, k=5, n_planes=8, dim=dim).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall
    # recall is tunable via the band count at FIXED per-band precision:
    # L=4 independent 8-bit tables must beat-or-match a single table
    single = {(r["q_id"], r["vec_id"])
              for r in lsh_knn(emb, q, k=5, n_planes=8, bands=1,
                               dim=dim).collect()}
    recall_1 = len(exact & single) / len(exact)
    assert recall >= recall_1, (recall, recall_1)
    assert recall >= 0.9, recall


def _png(w, h):
    import struct
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00")


def _jpeg(w, h, progressive=False, app0_first=True):
    """Minimal JPEG: optional APP0 before the SOF0/SOF2 frame header —
    exercises the marker walk, not just a fixed offset."""
    import struct
    out = b"\xff\xd8"
    if app0_first:
        out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof = b"\xff\xc2" if progressive else b"\xff\xc0"
    out += (sof + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", h, w)
            + b"\x03" + b"\x01\x00\x11\x02\x00\x11\x03\x00\x11")
    return out + b"\xff\xd9"


def test_image_dimensions_real_parsers():
    from transmogrify_webcrawler_spark.operators.multimodal import (
        image_dimensions)

    assert image_dimensions(_png(640, 480)) == (640, 480)
    assert image_dimensions(
        b"GIF89a" + (320).to_bytes(2, "little")
        + (200).to_bytes(2, "little") + b"\x00\x00\x00") == (320, 200)
    assert image_dimensions(_jpeg(800, 600)) == (800, 600)
    assert image_dimensions(_jpeg(12, 34, progressive=True)) == (12, 34)
    assert image_dimensions(_jpeg(5, 6, app0_first=False)) == (5, 6)
    # truncated / header-less payloads parse to None, never crash
    assert image_dimensions(b"\x89PNG\r\n\x1a\n") is None
    assert image_dimensions(b"\xff\xd8\xff\xe0" + b"x" * 10) is None
    assert image_dimensions(b"GIF89a\x01") is None
    assert image_dimensions(b"") is None


def test_ivf_knn_recall_and_nprobe_trade(spark):
    """IVF ANN: (a) full-probe (nprobe = n_centroids) searches every bucket
    and must EQUAL exact brute force; (b) partial probe trades recall for
    cost but stays useful on clustered data (the regime IVF exists for)."""
    from transmogrify_webcrawler_spark.operators.similarity import (
        brute_force_knn, ivf_knn)

    import random
    rng = random.Random(7)
    dim = 16
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    rows = [(i, [x + rng.gauss(0, 0.1) for x in centers[i % 4]])
            for i in range(300)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = {(r["q_id"], r["vec_id"])
             for r in brute_force_knn(emb, q, k=5).collect()}
    full = {(r["q_id"], r["vec_id"])
            for r in ivf_knn(emb, q, k=5, n_centroids=8, nprobe=8,
                             dim=dim).collect()}
    assert full == exact  # probing every bucket IS brute force
    part = {(r["q_id"], r["vec_id"])
            for r in ivf_knn(emb, q, k=5, n_centroids=8, nprobe=2,
                             dim=dim).collect()}
    recall = len(exact & part) / len(exact)
    assert recall >= 0.6, recall


def _wav(seconds=1.0, framerate=22050, channels=2, sampwidth=2):
    """A genuine WAV via the stdlib writer — the parser is tested against
    real RIFF output, not bytes we laid out ourselves."""
    import io
    import wave
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(channels)
    w.setsampwidth(sampwidth)
    w.setframerate(framerate)
    w.writeframes(b"\x00" * int(framerate * seconds) * channels * sampwidth)
    w.close()
    return buf.getvalue()


def _mp3(audio_bytes=16000, kbps_index=0x9, id3_body=6):
    """ID3v2 tag (syncsafe size) + one CBR MPEG1-LayerIII frame header +
    padding; index 0x9 = 128 kbps -> 16000 bytes = exactly 1.0 s."""
    tag = b"ID3\x04\x00\x00" + bytes([0, 0, 0, id3_body]) + b"\x00" * id3_body
    frame = bytes([0xFF, 0xFB, kbps_index << 4, 0x00])
    return tag + frame + b"\x00" * (audio_bytes - len(frame))


def test_wav_and_mp3_duration_real_parsers():
    from transmogrify_webcrawler_spark.operators.multimodal import (
        mp3_duration_estimate, wav_duration)

    # stdlib-written WAV: 1 s at 22050 Hz x 2 ch x 16-bit
    assert wav_duration(_wav(1.0)) == 1.0
    assert wav_duration(_wav(0.25, framerate=8000, channels=1,
                             sampwidth=1)) == 0.25
    # truncated / non-RIFF payloads parse to None, never crash
    assert wav_duration(b"RIFF\x00\x00\x00\x00WAVE") is None
    assert wav_duration(b"RIFFxxxx") is None
    assert wav_duration(b"") is None
    # MP3: 16000 audio bytes at 128 kbps = 1.0 s (ID3 tag skipped via
    # syncsafe size; estimate counts from the first frame sync)
    assert mp3_duration_estimate(_mp3()) == 1.0
    # tagless raw frame
    assert mp3_duration_estimate(
        bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 31996) == 2.0
    # ID3 tag with no audio frame behind it: no estimate, no crash
    assert mp3_duration_estimate(b"ID3\x04\x00\x00\x00\x00\x00\x02xx") is None
    assert mp3_duration_estimate(b"") is None


def test_mp3_rejects_reserved_header_fields():
    """A 0xFF/0xEx sync alone is 11 bits — corrupt bytes fake it easily.
    The parser must skip pseudo-syncs whose reserved fields are invalid
    (version 01, layer 00, sample-rate index 3) instead of emitting a
    confident bogus duration (round-4 ADVICE)."""
    from transmogrify_webcrawler_spark.operators.multimodal import (
        mp3_duration_estimate)

    # version bits 01 (reserved): 0xFF 0xEB = sync + version01/layerIII
    assert mp3_duration_estimate(
        bytes([0xFF, 0xEB, 0x90, 0x00]) + b"\x00" * 100) is None
    # layer bits 00 (reserved): 0xFF 0xF9 = MPEG1 + layer-reserved
    assert mp3_duration_estimate(
        bytes([0xFF, 0xF9, 0x90, 0x00]) + b"\x00" * 100) is None
    # sample-rate index 3 (reserved): byte2 low nibble 0x0C
    assert mp3_duration_estimate(
        bytes([0xFF, 0xFB, 0x9C, 0x00]) + b"\x00" * 100) is None
    # a later VALID frame must still be found behind a pseudo-sync
    junk = bytes([0xFF, 0xEB, 0x90, 0x00])  # reserved-version pseudo-sync
    valid = bytes([0xFF, 0xFB, 0x90, 0x00])
    d = mp3_duration_estimate(junk + valid + b"\x00" * (16000 - 8))
    assert d is not None and abs(d - (16000 - 4) * 8 / 128000.0) < 1e-9


def _mp4(timescale, duration, version=0, largesize=False):
    """A canonical ISO-BMFF shell: ftyp, then moov wrapping a full-size
    mvhd (version 0 or 1; optional 64-bit largesize moov header) — the
    exact box layout every real muxer emits."""
    if version == 0:
        body = (bytes(1) + bytes(3) + bytes(8)
                + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big"))
        body += bytes(108 - 8 - len(body))
        mvhd = (108).to_bytes(4, "big") + b"mvhd" + body
    else:
        body = (bytes([1]) + bytes(3) + bytes(16)
                + timescale.to_bytes(4, "big") + duration.to_bytes(8, "big"))
        body += bytes(120 - 8 - len(body))
        mvhd = (120).to_bytes(4, "big") + b"mvhd" + body
    if largesize:
        moov = ((1).to_bytes(4, "big") + b"moov"
                + (16 + len(mvhd)).to_bytes(8, "big") + mvhd)
    else:
        moov = (8 + len(mvhd)).to_bytes(4, "big") + b"moov" + mvhd
    ftyp = (16).to_bytes(4, "big") + b"ftypisom" + bytes(4)
    return ftyp + moov


def test_mp4_duration_real_parser():
    from transmogrify_webcrawler_spark.oracle.extract import sniff_mimetype
    from transmogrify_webcrawler_spark.operators.multimodal import (
        mp4_duration)

    assert mp4_duration(_mp4(1000, 2500)) == 2.5
    assert mp4_duration(_mp4(90000, 90000 * 7)) == 7.0
    # version-1 mvhd: 64-bit timestamps shift timescale/duration offsets
    assert mp4_duration(_mp4(600, 900, version=1)) == 1.5
    # 64-bit largesize moov header: the walk must re-read the size field
    assert mp4_duration(_mp4(48000, 24000, largesize=True)) == 0.5
    # interposed sibling box before moov (free) — the walk skips it
    free = (16).to_bytes(4, "big") + b"free" + bytes(8)
    shifted = _mp4(1000, 3000)
    assert mp4_duration(shifted[:16] + free + shifted[16:]) == 3.0
    # degenerate payloads: None, never a crash
    assert mp4_duration(b"") is None
    assert mp4_duration(b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00") is None
    assert mp4_duration(_mp4(0, 500)) is None          # zero timescale
    assert mp4_duration(_mp4(1000, 500)[:30]) is None  # truncated moov
    assert mp4_duration(bytes(32)) is None             # no ftyp
    # the sniffer recognizes the offset-4 ftyp magic
    assert sniff_mimetype(_mp4(1000, 2500), "") == "video/mp4"


def test_frame_sample_reuses_precomputed_meta(spark):
    """frame_sample_plan(meta=...) must not re-run the decode: the result
    over a precomputed (media_id, duration_s) frame equals the
    decode-from-payload path row for row."""
    from transmogrify_webcrawler_spark.operators.multimodal import (
        extract_media_meta, frame_sample_plan)

    rows = [(i, _mp4(1000, 1000 * (i + 1))) for i in range(5)]
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    meta = extract_media_meta(media)
    via_meta = frame_sample_plan(None, every_s=0.25, meta=meta)
    via_payload = frame_sample_plan(media, every_s=0.25)
    a = sorted(map(tuple, via_meta.collect()))
    b = sorted(map(tuple, via_payload.collect()))
    assert a == b and len(a) == sum(4 * (i + 1) + 1 for i in range(5))
    # a skinny meta frame (no payload column at all) suffices
    skinny = spark.createDataFrame([(7, 1.0)], ["media_id", "duration_s"])
    got = sorted(map(tuple, frame_sample_plan(
        None, every_s=0.5, meta=skinny).collect()))
    assert got == [(7, 0, 0.0), (7, 1, 0.5), (7, 2, 1.0)]


def test_resize_round_trip_through_dimension_parser(spark):
    """resize(p, w, h) -> image_dimensions must decode exactly (w, h) for
    every image container; non-images pass through byte-identical."""
    from transmogrify_webcrawler_spark.operators.multimodal import (
        extract_media_meta, image_dimensions, resize_image_bytes,
        resize_media)

    # kernel level: every container + byte-length preservation
    for payload in (_png(640, 480), _jpeg(800, 600),
                    _jpeg(12, 34, progressive=True),
                    b"GIF89a" + (320).to_bytes(2, "little")
                    + (200).to_bytes(2, "little") + b"\x00\x00\x00"):
        out = resize_image_bytes(payload, 33, 77)
        assert image_dimensions(out) == (33, 77)
        assert len(out) == len(payload)
    assert resize_image_bytes(b"not an image", 1, 2) is None

    # Spark plumbing level: resized payloads re-decode to the target dims
    media = spark.createDataFrame(
        [(1, _jpeg(111, 222)), (2, _png(7, 9)), (3, b"plain text"),
         (4, _wav(0.5))],
        ["media_id", "payload"])
    resized = resize_media(media, 64, 48)
    meta = {r["media_id"]: r for r in
            extract_media_meta(resized.select("media_id", "payload"))
            .collect()}
    assert (meta[1]["width"], meta[1]["height"]) == (64, 48)
    assert (meta[2]["width"], meta[2]["height"]) == (64, 48)
    flags = {r["media_id"]: r["resized"] for r in resized.collect()}
    assert flags == {1: True, 2: True, 3: False, 4: False}


def test_multimodal_meta_real_decode_plumbing(spark):
    from transmogrify_webcrawler_spark.operators.multimodal import (
        extract_media_meta, frame_sample_plan)

    media = spark.createDataFrame(
        [(1, _jpeg(111, 222)),                       # real SOF dims
         (2, _mp3()),                                # real CBR estimate: 1 s
         (3, b"plain text payload"),
         (4, _png(7, 9)),
         (5, _wav(2.0))],                            # real RIFF decode: 2 s
        ["media_id", "payload"])
    meta = {r["media_id"]: r for r in extract_media_meta(media).collect()}
    assert meta[1]["mimetype"] == "image/jpeg"
    assert (meta[1]["width"], meta[1]["height"]) == (111, 222)
    assert (meta[4]["width"], meta[4]["height"]) == (7, 9)
    assert meta[2]["mimetype"] == "audio/mpeg"
    assert meta[2]["duration_s"] == 1.0
    assert meta[5]["mimetype"] == "audio/wav"
    assert meta[5]["duration_s"] == 2.0
    assert meta[3]["mimetype"] == "text/plain" and meta[3]["feature"] is None
    frames = frame_sample_plan(media, every_s=1.0).collect()
    assert {r["media_id"] for r in frames} == {2, 5}
    per = {}
    for r in frames:
        per[r["media_id"]] = per.get(r["media_id"], 0) + 1
    assert per == {2: 2, 5: 3}  # floor(dur/every)+1 frame timestamps


def test_png_codec_round_trip_and_filters():
    """decode(encode(rows)) is the identity; the unfilter path handles all
    five PNG filter types (hand-filtered scanlines re-inflate to the same
    pixels an unfiltered encode carries); chunk CRCs are genuine."""
    import struct
    import zlib

    from transmogrify_webcrawler_spark.operators.png import (
        decode_png, encode_png)

    # round trip, gray + RGB + RGBA
    for color, ch in ((0, 1), (2, 3), (6, 4)):
        rows = [bytearray((x * 31 + y * 7 + c) % 256
                          for x in range(5) for c in range(ch))
                for y in range(4)]
        w2, h2, c2, rows2 = decode_png(encode_png(5, 4, color, rows))
        assert (w2, h2, c2) == (5, 4, color)
        assert rows2 == rows

    # every chunk CRC in our output is genuine
    out = encode_png(3, 2, 0, [bytearray(b"abc"), bytearray(b"xyz")])
    i = 8
    while i < len(out):
        clen = int.from_bytes(out[i:i + 4], "big")
        blob = out[i + 4:i + 8 + clen]
        crc = int.from_bytes(out[i + 8 + clen:i + 12 + clen], "big")
        assert crc == zlib.crc32(blob)
        i += 12 + clen

    # filters 1-4: build a filtered stream by hand, expect exact pixels
    pix = [bytearray([10, 20, 30, 40]), bytearray([15, 25, 35, 45]),
           bytearray([100, 101, 102, 103])]

    def filt(ftype, line, prev, ch=1):
        o = bytearray([ftype])
        for x, v in enumerate(line):
            a = line[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                o.append(v)
            elif ftype == 1:
                o.append((v - a) & 0xFF)
            elif ftype == 2:
                o.append((v - b) & 0xFF)
            elif ftype == 3:
                o.append((v - ((a + b) >> 1)) & 0xFF)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                o.append((v - pred) & 0xFF)
        return o

    for f1, f2, f3 in ((1, 2, 3), (4, 1, 2), (3, 4, 0)):
        raw = (filt(f1, pix[0], bytearray(4)) + filt(f2, pix[1], pix[0])
               + filt(f3, pix[2], pix[1]))
        ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
        png = (b"\x89PNG\r\n\x1a\n"
               + struct.pack(">I", 13) + b"IHDR" + ihdr
               + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))
        idat = zlib.compress(bytes(raw))
        png += (struct.pack(">I", len(idat)) + b"IDAT" + idat
                + struct.pack(">I", zlib.crc32(b"IDAT" + idat)))
        png += struct.pack(">I", 0) + b"IEND" + struct.pack(
            ">I", zlib.crc32(b"IEND"))
        assert decode_png(png)[3] == pix, (f1, f2, f3)


def test_png_resize_pixel_true():
    """Nearest-neighbor resample: out[y][x] == src[y*sh//oh][x*sw//ow],
    asserted pixel byte for pixel byte, upscale and downscale, and the
    output re-decodes (genuine CRCs, spec-correct chunks). Header-only
    fixture PNGs (no IDAT) still fall back to the header rewrite."""
    from transmogrify_webcrawler_spark.operators.multimodal import (
        image_dimensions, resize_image_bytes)
    from transmogrify_webcrawler_spark.operators.png import (
        decode_png, encode_png, resize_png)

    src_rows = [bytearray((x * 7 + y * 13) % 256 for x in range(10))
                for y in range(6)]
    payload = encode_png(10, 6, 0, src_rows)
    for ow, oh in ((20, 9), (4, 3), (10, 6)):
        out = resize_png(payload, ow, oh)
        w, h, color, rows = decode_png(out)
        assert (w, h, color) == (ow, oh, 0)
        for y in range(oh):
            for x in range(ow):
                assert rows[y][x] == src_rows[y * 6 // oh][x * 10 // ow]
    # RGB: channels move together (no channel interleave bugs)
    rgb = [bytearray(v for x in range(4) for v in (x * 3, x * 3 + 1, y))
           for y in range(2)]
    out = resize_png(encode_png(4, 2, 2, rgb), 2, 1)
    _, _, _, orows = decode_png(out)
    assert orows[0] == bytearray([0, 1, 0, 6, 7, 0])
    # the resize_image_bytes dispatcher uses the pixel path for real PNGs
    via_dispatch = resize_image_bytes(payload, 4, 3)
    assert via_dispatch == resize_png(payload, 4, 3)
    # ...and falls back to the header rewrite for an IDAT-less header shell
    shell = payload[:33]  # signature + IHDR only
    fb = resize_image_bytes(shell, 7, 9)
    assert image_dimensions(fb) == (7, 9) and len(fb) == len(shell)


def _ebml_elem(eid_bytes: bytes, body: bytes) -> bytes:
    assert len(body) < 127
    return eid_bytes + bytes([0x80 | len(body)]) + body


def test_webm_duration_decodes_synthesized_ebml():
    import struct

    from transmogrify_webcrawler_spark.operators.multimodal import (
        webm_duration,
    )

    # Info{TimestampScale=1e6 ns, Duration=12500.0 ticks} -> 12.5 s
    info_body = (
        _ebml_elem(b"\x2a\xd7\xb1", (1_000_000).to_bytes(3, "big"))
        + _ebml_elem(b"\x44\x89", struct.pack(">d", 12500.0)))
    segment_body = _ebml_elem(b"\x15\x49\xa9\x66", info_body)
    doc = (_ebml_elem(b"\x1a\x45\xdf\xa3", b"webm")
           + _ebml_elem(b"\x18\x53\x80\x67", segment_body))
    assert webm_duration(doc) == 12.5
    # 4-byte float duration and a non-default scale (2e6 ns/tick)
    info2 = (_ebml_elem(b"\x2a\xd7\xb1", (2_000_000).to_bytes(3, "big"))
             + _ebml_elem(b"\x44\x89", struct.pack(">f", 500.0)))
    doc2 = (_ebml_elem(b"\x1a\x45\xdf\xa3", b"webm")
            + _ebml_elem(b"\x18\x53\x80\x67",
                         _ebml_elem(b"\x15\x49\xa9\x66", info2)))
    assert webm_duration(doc2) == 1.0
    # rejects: wrong magic, truncated, missing Info
    assert webm_duration(b"\x00\x00\x00\x18ftyp") is None
    assert webm_duration(doc[:10]) is None
    assert webm_duration(
        _ebml_elem(b"\x1a\x45\xdf\xa3", b"webm")
        + _ebml_elem(b"\x18\x53\x80\x67", b"")) is None


def test_webm_sniff_and_meta_dispatch(spark):
    import struct

    from transmogrify_webcrawler_spark.operators.multimodal import (
        extract_media_meta,
    )
    from transmogrify_webcrawler_spark.oracle.extract import sniff_mimetype

    info_body = (
        _ebml_elem(b"\x2a\xd7\xb1", (1_000_000).to_bytes(3, "big"))
        + _ebml_elem(b"\x44\x89", struct.pack(">d", 3000.0)))
    doc = (_ebml_elem(b"\x1a\x45\xdf\xa3", b"webm")
           + _ebml_elem(b"\x18\x53\x80\x67",
                        _ebml_elem(b"\x15\x49\xa9\x66", info_body)))
    assert sniff_mimetype(doc, "") == "video/webm"
    df = spark.createDataFrame([(1, bytearray(doc))],
                               "media_id long, payload binary")
    row = extract_media_meta(df).collect()[0]
    assert row["mimetype"] == "video/webm"
    assert row["duration_s"] == 3.0


def _ogg_page(granulepos: int, payload: bytes, first: bool = False) -> bytes:
    import struct
    header = (b"OggS" + b"\x00"
              + (b"\x02" if first else b"\x04")
              + struct.pack("<Q", granulepos & 0xFFFFFFFFFFFFFFFF)
              + b"\x01\x00\x00\x00"      # serial
              + b"\x00\x00\x00\x00"      # page seq
              + b"\x00\x00\x00\x00"      # crc (unchecked by our parser)
              + bytes([1, len(payload)]))  # 1 segment
    return header + payload


def test_ogg_duration_opus_and_vorbis():
    from transmogrify_webcrawler_spark.operators.multimodal import (
        ogg_duration,
    )

    # Opus: granulepos pinned to 48 kHz, pre-skip 312 samples
    opus_head = b"OpusHead" + b"\x01\x02" + (312).to_bytes(2, "little") \
        + b"\x00" * 8
    doc = _ogg_page(0, opus_head, first=True) \
        + _ogg_page(48000 + 312, b"\x00")
    assert ogg_duration(doc) == 1.0
    # Vorbis: rate read from the ID header (22050 Hz)
    vorbis_head = b"\x01vorbis" + b"\x00\x00\x00\x00" + b"\x02" \
        + (22050).to_bytes(4, "little") + b"\x00" * 8
    doc2 = _ogg_page(0, vorbis_head, first=True) \
        + _ogg_page(44100, b"\x00")
    assert ogg_duration(doc2) == 2.0
    # -1 granule on the tail page falls back to the previous page
    doc3 = doc2 + _ogg_page(-1 & 0xFFFFFFFFFFFFFFFF, b"\x00")
    assert ogg_duration(doc3) == 2.0
    # unknown codec payload -> None, wrong magic -> None
    assert ogg_duration(_ogg_page(0, b"theora!!", first=True)) is None
    assert ogg_duration(b"RIFFxxxx") is None


def test_ogg_sniff_dispatch():
    from transmogrify_webcrawler_spark.oracle.extract import sniff_mimetype

    opus_head = b"OpusHead" + b"\x01\x02" + (0).to_bytes(2, "little")
    doc = _ogg_page(0, opus_head, first=True)
    assert sniff_mimetype(doc, "") == "audio/ogg"


def test_kmeans_partition_invariant(spark):
    """The whole point of the integer grid: identical output under any
    partitioning (float k-means would differ in the last ulp)."""
    from transmogrify_webcrawler_spark.operators.clustering import (
        kmeans_exact)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(map(tuple, kmeans_exact(emb, k=4, iterations=2,
                                       dim=64).collect()))
    b = sorted(map(tuple, kmeans_exact(emb.repartition(13), k=4,
                                       iterations=2, dim=64).collect()))
    assert a == b


def test_kmeans_separates_blobs(spark):
    from transmogrify_webcrawler_spark.operators.clustering import (
        kmeans_exact)
    rows = []
    for i in range(40):  # two tight blobs around +/-0.3 in 8 dims
        center = 0.3 if i % 2 == 0 else -0.3
        rows.append((i, [center + 0.001 * ((i * 7 + d) % 10)
                         for d in range(8)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_exact(emb, k=2, iterations=3, dim=8).collect()
    by_parity = {0: set(), 1: set()}
    for r in out:
        by_parity[r["vec_id"] % 2].add(r["cluster"])
    assert by_parity[0] != by_parity[1]  # blobs land in different clusters
    assert len(by_parity[0]) == 1 and len(by_parity[1]) == 1


def test_bloom_fragments_one_row_per_shard_across_batches(spark):
    """Tiny Arrow batches make every shard span several batches, and AQE
    coalesces several shards into one task: the streaming build must still
    emit exactly one fragment per shard touched, bit-identical to a
    single-process build, with no inserted URL probing 'new'."""
    import numpy as np

    from transmogrify_webcrawler_spark.operators.dedup import (
        _np_hashes, _set_bits, bloom_probe, build_bloom_fragments,
        with_bloom_hashes,
    )
    n_shards, nbytes = 8, 256
    urls = spark.createDataFrame(
        [(f"http://d{i % 5}.com/p/{i}.html",) for i in range(300)],
        "url_canon string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        frags_df = build_bloom_fragments(urls, n_shards, nbytes)
        # fewer Python tasks than shards: sized by data, not shard count
        assert frags_df.rdd.getNumPartitions() < n_shards
        frags = frags_df.toPandas()
        probed = bloom_probe(urls, frags_df, n_shards, nbytes).toPandas()
        hashes = (with_bloom_hashes(urls, n_shards)
                  .select("_sid", "_h1", "_h2").toPandas())
    finally:
        spark.conf.set(key, prev)

    assert frags["shard_id"].is_unique
    assert set(frags["shard_id"]) == set(hashes["_sid"])
    assert frags["n_items"].sum() == 300
    for sid, grp in hashes.groupby("_sid"):
        want = np.zeros(nbytes, dtype=np.uint8)
        _set_bits(want, *_np_hashes(grp))
        row = frags[frags["shard_id"] == sid].iloc[0]
        assert row["n_items"] == len(grp)
        assert bytes(row["filter_bytes"]) == want.tobytes()
    assert len(probed) == 300 and probed["_maybe_seen"].all()
