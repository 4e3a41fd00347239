"""Unit tests for scalar edge cases kept out of oracle pairs (ROUND/LN
rounding-mode and libm drift) and the multimodal decode plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from training_flink_sql_cc_src_spark.queries.multimodal import (
    _decode_payload,
    decode_features,
)


def test_round_half_up(spark):
    """Spark ROUND is HALF_UP (documented); DuckDB rounds half-even — the
    reason ROUND is excluded from oracle pairs (queries/scalar_fns.py)."""
    df = spark.createDataFrame([(0.25,), (0.35,)], "x double")
    got = [r.r for r in df.select(F.round("x", 1).alias("r")).collect()]
    assert got == [0.3, 0.4]  # HALF_UP on the decimal representation


def test_ln_close_to_python(spark):
    df = spark.createDataFrame([(46886.31,)], "x double")
    got = df.select(F.log("x").alias("l")).collect()[0].l
    assert abs(got - math.log(46886.31)) < 1e-12


def test_decode_payload_deterministic_and_guarded():
    p = "hello world".encode()
    a, b = _decode_payload(p), _decode_payload(p)
    assert a == b
    assert a["n_bytes"] == 11
    with pytest.raises(NotImplementedError):
        _decode_payload(None)


def test_decode_features_schema_and_values(spark):
    df = spark.createDataFrame(
        [(1, b"abc", "image/png"), (2, b"defg", "audio/wav")],
        "doc_id long, payload binary, media_type string",
    )
    out = decode_features(df)
    assert out.columns == [
        "doc_id",
        "media_type",
        "n_bytes",
        "checksum",
        "feat_0",
        "feat_1",
    ]
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].n_bytes == 3
    assert rows[2].n_bytes == 4
    assert rows[1].checksum == sum(b"abc") % 997


def test_kafka_reader_builds_without_broker(spark):
    """Kafka source construction is config-only (no broker in container)."""
    from training_flink_sql_cc_src_spark.sources.kafka import kafka_reader

    reader = kafka_reader(spark, "localhost:9092", "orders")
    assert reader is not None  # options accepted; start() would need a broker


def test_avro_schema_binary_roundtrip(spark):
    """The schema JSON handed to from_avro must be real Avro: parse it
    with the bundled org.apache.avro library, binary-encode a record
    through GenericDatumWriter, decode it back, and compare values — the
    wire round-trip a broker would perform, minus the broker."""
    import pytest as _pytest
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from training_flink_sql_cc_src_spark.sources.kafka import avro_schema_json

    spark_schema = StructType(
        [
            StructField("order_id", LongType(), nullable=False),
            StructField("status", StringType(), nullable=False),
        ]
    )
    schema_json = avro_schema_json("order_event", spark_schema)
    jvm = spark._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    assert schema.getName() == "order_event"
    rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
    rec.put("order_id", 4_200_000_001)  # > int32: exercises the long branch
    rec.put("status", "SHIPPED")
    baos = jvm.java.io.ByteArrayOutputStream()
    enc = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(baos, None)
    jvm.org.apache.avro.generic.GenericDatumWriter(schema).write(rec, enc)
    enc.flush()
    wire = baos.toByteArray()
    assert len(wire) > 0
    bais = jvm.java.io.ByteArrayInputStream(wire)
    dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(bais, None)
    out = jvm.org.apache.avro.generic.GenericDatumReader(schema).read(None, dec)
    assert out.get("order_id") == 4_200_000_001
    assert str(out.get("status")) == "SHIPPED"


def test_avro_file_roundtrip_with_connector(spark, tmp_path):
    """Full .avro file round-trip through decode_avro_value's schema path.
    Runs only where the external spark-avro artifact is on the classpath
    (it is not bundled with pyspark) — on this container it SKIPS; on a
    real deployment with --packages org.apache.spark:spark-avro it runs."""
    import pytest as _pytest

    from training_flink_sql_cc_src_spark.sources.kafka import (
        avro_schema_json,
        spark_avro_available,
    )

    if not spark_avro_available(spark):
        _pytest.skip("spark-avro connector not on classpath")
    df = spark.createDataFrame(
        [(1, "NEW"), (2, "SHIPPED")], "order_id bigint, status string"
    )
    path = str(tmp_path / "orders_avro")
    df.write.format("avro").save(path)
    back = spark.read.format("avro").load(path)
    assert {(r.order_id, r.status) for r in back.collect()} == {
        (1, "NEW"),
        (2, "SHIPPED"),
    }
    # and the from_avro/to_avro expression path with the same schema JSON
    from pyspark.sql.avro.functions import from_avro, to_avro

    schema_json = avro_schema_json(
        "order_event",
        spark.createDataFrame([(1, "NEW")], "order_id bigint, status string")
        .schema,
    )
    encoded = df.select(
        to_avro(F.struct("order_id", "status")).alias("value")
    )
    decoded = encoded.select(from_avro("value", schema_json).alias("v")).select(
        "v.*"
    )
    assert decoded.count() == 2


def test_frame_sample_bytes_are_stride_slices(spark):
    """frame_sample's binary output must be the exact byte slices of the
    input payload at 64-byte strides (the contract a real keyframe
    sampler replaces)."""
    from training_flink_sql_cc_src_spark.queries.multimodal import frame_sample

    payload = bytes(range(256)) * 2  # 512 bytes -> 4 frames of 64
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    rows = {r.frame_idx: bytes(r.frame) for r in frame_sample(df).collect()}
    assert set(rows) == {0, 1, 2, 3}
    for i, chunk in rows.items():
        assert chunk == payload[i * 64 : (i + 1) * 64]


def test_resize_raster_shape(spark):
    from training_flink_sql_cc_src_spark.queries.multimodal import resize_image

    df = spark.createDataFrame([(1, bytearray(b"xyz"))], "doc_id long, payload binary")
    r = resize_image(df, out_w=8, out_h=4).collect()[0]
    assert (r.out_w, r.out_h, len(bytes(r.raster))) == (8, 4, 8 * 4 * 3)


def test_media_header_codecs_roundtrip():
    """functions/media.py builders emit spec-valid files; the parser
    recovers the header fields and rejects garbage (pure stdlib —
    CRC-checked PNG chunks, marker-scanned JPEG, RIFF-walked WAV)."""
    from training_flink_sql_cc_src_spark.functions.media import (
        jpeg_bytes,
        parse_media_header,
        png_bytes,
        wav_bytes,
    )

    p = parse_media_header(png_bytes(33, 47))
    assert (p["container"], p["width"], p["height"], p["bit_depth"]) == (
        "png", 33, 47, 8,
    )
    j = parse_media_header(jpeg_bytes(640, 480))
    assert (j["container"], j["width"], j["height"], j["channels"]) == (
        "jpeg", 640, 480, 3,
    )
    w = parse_media_header(wav_bytes(16000, 2, 16))
    assert (w["container"], w["channels"], w["sample_rate"], w["bit_depth"]) == (
        "wav", 2, 16000, 16,
    )
    assert parse_media_header(b"garbage")["container"] == "unknown"
    assert parse_media_header(None)["container"] == "unknown"
    # corrupt the PNG CRC: header must be rejected, not half-parsed
    bad = bytearray(png_bytes(10, 10))
    bad[-10] ^= 0xFF  # flip a bit inside the IHDR CRC region
    corrupted = bytes(bad[:29] + b"\x00\x00\x00\x00" + bad[33:])
    assert parse_media_header(corrupted)["width"] is None


def test_initcap_overlay_unit(spark):
    """INITCAP/OVERLAY are Flink built-ins with no DuckDB equivalent —
    unit-tested here instead of oracle-paired
    (scalar_string_datetime_extras covers the rest of the stragglers)."""
    df = spark.createDataFrame([("hello spark world", "abcdef")], "s string, t string")
    r = df.select(
        F.initcap("s").alias("ic"),
        F.overlay("t", F.lit("XY"), F.lit(2), F.lit(3)).alias("ov"),
    ).collect()[0]
    assert r.ic == "Hello Spark World"
    assert r.ov == "aXYef"


def test_regexp_extract_all_nonvacuous(spark, tmp_path):
    """Regression (round-9 advice): Spark's regexp_extract_all defaults the
    group index to 1, so a zero-group pattern throws REGEX_GROUP_INDEX the
    moment a row actually matches — and no sf fixture document contains an
    '-ing' word, an email, or an IP, so the committed oracle parity for
    scalar_error_safe_parsing / pipeline_pii_redaction was vacuously green.
    Pin the non-vacuous path on a synthetic documents table with matches,
    including the full Spark-vs-DuckDB compare the driver runs."""
    import pandas as pd
    from oracle_harness import compare_one

    from training_flink_sql_cc_src_spark.registry import _REGISTRY, _load_all

    _load_all()
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "running and jumping while singing",
                "contact me at a.user@example.com or 10.0.0.1",
                "42 no matches here",
            ],
            "lang": ["en", "en", "de"],
            "source": ["web", "web", "book"],
            "n_chars": [33, 44, 18],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")

    e = _REGISTRY["scalar_error_safe_parsing"]
    res = compare_one(spark, "scalar_error_safe_parsing", e.fn, e.oracle, str(tmp_path))
    assert res.ok, res.detail
    rows = {r.doc_id: r for r in e.fn(spark, str(tmp_path)).collect()}
    assert rows[1].ing_words == "running|jumping|singing"
    assert rows[1].n_ing == 3
    assert rows[3].first_tok_int == 42 and rows[3].n_ing == 0

    p = _REGISTRY["pipeline_pii_redaction"]
    res2 = compare_one(spark, "pipeline_pii_redaction", p.fn, p.oracle, str(tmp_path))
    assert res2.ok, res2.detail
    rows2 = {r.doc_id: r for r in p.fn(spark, str(tmp_path)).collect()}
    assert rows2[2].n_emails == 1 and rows2[2].n_ips == 1
    assert "<EMAIL>" in rows2[2].redacted and "<IP>" in rows2[2].redacted


def test_png_pixel_codec_roundtrip_and_guards():
    """decode_png_pixels reverses png_bytes_with_pixels bit-exactly for
    RGB and RGBA across every scanline filter type (the encoder cycles
    0-4), rejects corrupt streams, and raises the loud
    NotImplementedError for the forms that need a full reader."""
    import numpy as np
    import pytest

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_png_pixels,
        png_bytes,
        png_bytes_with_pixels,
    )

    rng = np.random.default_rng(42)
    for shape in [(8, 8, 3), (13, 21, 3), (9, 5, 4), (1, 1, 3), (7, 64, 4)]:
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for mode in ("cycle", "none"):
            back = decode_png_pixels(png_bytes_with_pixels(px, mode))
            assert back.shape == px.shape
            assert (back == px).all()
    # header-only PNG (no IDAT) and non-PNG bytes are rejected
    with pytest.raises(ValueError):
        decode_png_pixels(png_bytes(4, 4))
    with pytest.raises(ValueError):
        decode_png_pixels(b"not a png at all----")
    # 16-bit depth needs a full reader: loud guard, not silence
    with pytest.raises(NotImplementedError):
        data = png_bytes_with_pixels(
            rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
        )
        # patch IHDR bit depth to 16 and re-CRC the chunk
        import struct
        import zlib

        ihdr = bytearray(data[16:29])
        ihdr[8] = 16
        crc = struct.pack(
            ">I", zlib.crc32(b"IHDR" + bytes(ihdr)) & 0xFFFFFFFF
        )
        decode_png_pixels(data[:16] + bytes(ihdr) + crc + data[33:])
    # corrupt IDAT CRC is caught before inflate
    with pytest.raises(ValueError):
        data = png_bytes_with_pixels(
            rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
        )
        bad = bytearray(data)
        bad[-9] ^= 0xFF  # a byte inside the IEND/IDAT CRC region
        decode_png_pixels(bytes(bad))


def test_wav_sample_codec_roundtrip_and_guards():
    """decode_wav_samples reverses wav_bytes_with_samples bit-exactly
    (mono and stereo, odd frame counts), rejects truncated RIFF chunks,
    and raises the loud NotImplementedError for non-16-bit-PCM codecs."""
    import struct

    import numpy as np
    import pytest

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_wav_samples,
        wav_bytes_with_samples,
    )

    rng = np.random.default_rng(5)
    for n, ch, sr in [(64, 1, 8000), (33, 2, 44100), (1, 2, 16000)]:
        s = rng.integers(-32768, 32768, size=(n, ch)).astype("<i2")
        sr2, back = decode_wav_samples(wav_bytes_with_samples(sr, s))
        assert sr2 == sr and back.shape == s.shape and (back == s).all()
    with pytest.raises(ValueError):
        decode_wav_samples(b"RIFFxxxxWAVE" + b"data" + struct.pack("<I", 999))
    # non-PCM codec id: loud guard, not silence
    good = wav_bytes_with_samples(8000, np.zeros((4, 1), dtype="<i2"))
    bad = bytearray(good)
    bad[20:22] = struct.pack("<H", 3)  # IEEE float codec id
    with pytest.raises(NotImplementedError):
        decode_wav_samples(bytes(bad))


def test_jpeg_pixel_codec_exact_on_block_constant():
    """Baseline-JPEG codec (functions/media): block-constant grayscale
    at quality 100 (all-ones quant) must reconstruct BIT-EXACTLY — the
    invariant multimodal_jpeg_pixel_stats' DuckDB oracle relies on
    (DC-only blocks: F00 = 8*(v-128) integral, AC all zero)."""
    import numpy as np

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_jpeg_pixels,
        jpeg_bytes_with_pixels,
        parse_media_header,
    )

    for did in (0, 7, 41, 255):
        bw, bh = 2 + did % 3, 2 + (did * 5) % 3
        v = (
            17 * np.arange(bw)[None, :] + 29 * np.arange(bh)[:, None] + did
        ) % 256
        px = np.kron(v, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
        data = jpeg_bytes_with_pixels(px, quality=100)
        assert np.array_equal(decode_jpeg_pixels(data), px)
        meta = parse_media_header(data)
        assert (meta["container"], meta["width"], meta["height"]) == (
            "jpeg",
            bw * 8,
            bh * 8,
        )


def test_jpeg_pixel_codec_bounded_error_and_restarts():
    """Lossy shapes: random gray at q100 is within rounding error;
    noise RGB at q90 and a smooth gradient at q95 stay inside small
    bounds; DRI/RSTn restart-marker encoding decodes identically to
    the unrestarted stream (predictor resets exercised)."""
    import numpy as np

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_jpeg_pixels,
        jpeg_bytes_with_pixels,
    )

    rng = np.random.RandomState(42)
    gray = rng.randint(0, 256, (24, 40)).astype(np.uint8)
    out = decode_jpeg_pixels(jpeg_bytes_with_pixels(gray, quality=100))
    assert int(np.abs(out.astype(int) - gray.astype(int)).max()) <= 2

    rgb = rng.randint(0, 256, (17, 19, 3)).astype(np.uint8)
    out = decode_jpeg_pixels(jpeg_bytes_with_pixels(rgb, quality=90))
    assert out.shape == rgb.shape
    assert int(np.abs(out.astype(int) - rgb.astype(int)).max()) <= 48

    xs = np.linspace(0, 255, 32)[None, :, None]
    ys = np.linspace(0, 255, 24)[:, None, None]
    cs = np.array([0.0, 0.5, 1.0])[None, None, :]
    smooth = np.clip(xs * 0.5 + ys * 0.4 + cs * 30, 0, 255).astype(np.uint8)
    out = decode_jpeg_pixels(jpeg_bytes_with_pixels(smooth, quality=95))
    assert int(np.abs(out.astype(int) - smooth.astype(int)).max()) <= 6

    with_rst = decode_jpeg_pixels(
        jpeg_bytes_with_pixels(gray, quality=85, restart_interval=2)
    )
    without = decode_jpeg_pixels(jpeg_bytes_with_pixels(gray, quality=85))
    assert np.array_equal(with_rst, without)


def test_jpeg_decode_guards_progressive_and_wild_factors():
    """Unsupported shapes raise the loud NotImplementedError convention:
    progressive SOF2, and sampling factors beyond 2x2. Grayscale with a
    declared 2x2 factor must DECODE (T.81 A.2.2: single-component scans
    are non-interleaved — one block per MCU regardless of factors)."""
    import numpy as np
    import pytest as _pytest

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_jpeg_pixels,
        jpeg_bytes_with_pixels,
    )

    gray = np.zeros((8, 8), dtype=np.uint8)
    data = bytearray(jpeg_bytes_with_pixels(gray, quality=100))
    sof_at = bytes(data).find(b"\xff\xc0")
    assert sof_at > 0
    progressive = bytes(data[:sof_at]) + b"\xff\xc2" + bytes(data[sof_at + 2:])
    with _pytest.raises(NotImplementedError, match="SOF0"):
        decode_jpeg_pixels(progressive)

    # a declared 2x2 factor on the SINGLE grayscale component decodes
    # identically (non-interleaved scan ignores the factors)
    comp_at = sof_at + 4 + 6  # marker+len + (depth,h,w,ncomp)
    declared22 = bytearray(data)
    assert declared22[comp_at + 1] == 0x11
    declared22[comp_at + 1] = 0x22
    assert np.array_equal(
        decode_jpeg_pixels(bytes(declared22)), decode_jpeg_pixels(bytes(data))
    )

    # factors beyond 2x2 stay a loud guard (rare, need a codec library)
    wild = bytearray(jpeg_bytes_with_pixels(
        np.zeros((8, 8, 3), dtype=np.uint8), quality=100
    ))
    sof_rgb = bytes(wild).find(b"\xff\xc0")
    wild[sof_rgb + 4 + 6 + 1] = 0x33
    with _pytest.raises(NotImplementedError, match="factors"):
        decode_jpeg_pixels(bytes(wild))

    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg_pixels(b"not a jpeg")


def test_jpeg_420_roundtrip_properties():
    """4:2:0 chroma-subsampled encode -> decode (VERDICT r11 Next #4):
    macroblock-constant color at Q=1 round-trips within the JFIF YCbCr
    integer rounding (<=1/channel); gradients at q90 stay within the
    chroma-decimation error bound; restart markers are layout-agnostic;
    odd (non-multiple-of-16) dimensions crop correctly."""
    import numpy as np

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_jpeg_pixels,
        jpeg_bytes_with_pixels,
    )

    rng = np.random.RandomState(7)
    # macroblock-constant: every 16x16 tile one color -> DC-only blocks
    for shape in [(16, 16), (32, 48), (48, 32)]:
        mb = rng.randint(0, 256, (shape[0] // 16, shape[1] // 16, 3))
        px = np.kron(mb, np.ones((16, 16, 1), dtype=np.int64)).astype(
            np.uint8
        )
        out = decode_jpeg_pixels(
            jpeg_bytes_with_pixels(px, quality=100, subsampling="420")
        )
        assert out.shape == px.shape
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 1
    # odd dims: encoder pads to the MCU grid, decoder crops back
    for shape in [(17, 19), (33, 31), (8, 8)]:
        px = np.full((*shape, 3), (120, 64, 200), dtype=np.uint8)
        out = decode_jpeg_pixels(
            jpeg_bytes_with_pixels(px, quality=100, subsampling="420")
        )
        assert out.shape == px.shape
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 1
    # smooth gradient, lossy quality: bounded error
    grad = np.clip(
        np.arange(32)[None, :, None] * 4
        + np.arange(24)[:, None, None] * 3
        + rng.randint(0, 8, (24, 32, 3)),
        0,
        255,
    ).astype(np.uint8)
    out = decode_jpeg_pixels(
        jpeg_bytes_with_pixels(grad, quality=90, subsampling="420")
    )
    assert np.abs(out.astype(int) - grad.astype(int)).max() <= 40
    # restart markers must not perturb the 4:2:0 MCU walk
    a = decode_jpeg_pixels(
        jpeg_bytes_with_pixels(
            grad, quality=85, subsampling="420", restart_interval=2
        )
    )
    b = decode_jpeg_pixels(
        jpeg_bytes_with_pixels(grad, quality=85, subsampling="420")
    )
    assert np.array_equal(a, b)


def test_jpeg_422_and_440_roundtrip():
    """The encoder's factor-driven MCU loop also emits 4:2:2 (Y 2x1)
    and 4:4:0 (Y 1x2); the decoder's per-component grids bring chroma
    back by single-axis replication. Macroblock-constant color at Q=1
    round-trips within the YCbCr integer rounding on both layouts."""
    import numpy as np

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_jpeg_pixels,
        jpeg_bytes_with_pixels,
    )

    rng = np.random.RandomState(11)
    for sub in ("422", "440"):
        for shape in [(16, 32), (17, 19), (33, 31)]:
            mh, mw = -(-shape[0] // 16), -(-shape[1] // 16)
            mb = rng.randint(0, 256, (mh, mw, 3))
            px = np.kron(mb, np.ones((16, 16, 1), dtype=np.int64))[
                : shape[0], : shape[1]
            ].astype(np.uint8)
            out = decode_jpeg_pixels(
                jpeg_bytes_with_pixels(px, quality=100, subsampling=sub)
            )
            assert out.shape == px.shape
            assert np.abs(out.astype(int) - px.astype(int)).max() <= 1, sub


def test_jpeg_420_decodes_real_third_party_files():
    """Real libjpeg-encoded 4:2:0 photos shipped with Spark's mllib test
    data (kittens) must decode: correct SOF dimensions, and natural-
    image structure (adjacent-pixel differences far smaller than a
    shuffled baseline) — a desynchronized MCU walk produces noise and
    fails the structure check."""
    import glob
    import os

    import numpy as np
    import pytest as _pytest

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_jpeg_pixels,
    )

    kittens = sorted(
        glob.glob("/opt/spark*/data/mllib/images/origin/kittens/*.jpg")
    )
    if not kittens:
        _pytest.skip("Spark mllib sample images not present")
    checked = 0
    for path in kittens[:3]:
        data = open(path, "rb").read()
        sof = data.find(b"\xff\xc0")
        # SOF0: marker(2) len(2) depth(1) h(2) w(2) ncomp(1), then per
        # component (cid, hv, tq) — hv of component 1 sits at sof+11
        if sof < 0 or data[sof + 11] != 0x22:
            continue  # not a baseline 4:2:0 file
        px = decode_jpeg_pixels(data).astype(np.int64)
        h = int.from_bytes(data[sof + 5 : sof + 7], "big")
        w = int.from_bytes(data[sof + 7 : sof + 9], "big")
        assert px.shape == (h, w, 3), (os.path.basename(path), px.shape)
        lum = px.mean(axis=2)
        adj = np.abs(np.diff(lum, axis=1)).mean()
        rng = np.random.RandomState(0)
        shuffled = lum.reshape(-1).copy()
        rng.shuffle(shuffled)
        base = np.abs(np.diff(shuffled)).mean()
        assert adj < base / 3, (os.path.basename(path), adj, base)
        checked += 1
    assert checked >= 2, "expected at least two real 4:2:0 files"


def test_mulaw_codec_spec_properties():
    """G.711 mu-law: expand->compress round-trips every code except the
    spec's duplicate zero (0x7F 'negative zero' canonicalizes to 0xFF);
    expansion peaks at +/-32124; compression error is bounded by the
    top segment's step; the codec-7 WAV container decodes through
    decode_wav_samples."""
    import numpy as np

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_wav_samples,
        mulaw_compress,
        mulaw_expand,
        parse_media_header,
        wav_bytes_mulaw,
    )

    codes = np.arange(256, dtype=np.uint8)
    samples = mulaw_expand(codes)
    assert int(samples.max()) == 32124 and int(samples.min()) == -32124
    back = mulaw_compress(samples)
    mismatch = np.where(back != codes)[0]
    assert mismatch.tolist() == [0x7F] and back[0x7F] == 0xFF
    assert mulaw_expand(np.array([0x7F, 0xFF], np.uint8)).tolist() == [0, 0]

    rng = np.random.RandomState(3)
    x = rng.randint(-32768, 32768, 5000).astype(np.int16)
    err = np.abs(
        x.astype(int) - mulaw_expand(mulaw_compress(x)).astype(int)
    )
    assert int(err.max()) <= 1024  # half the widest segment step + clip

    wav = wav_bytes_mulaw(8000, codes)
    sr, out = decode_wav_samples(wav)
    assert sr == 8000 and np.array_equal(out.reshape(-1), samples)
    meta = parse_media_header(wav)
    assert (meta["container"], meta["sample_rate"], meta["bit_depth"]) == (
        "wav",
        8000,
        8,
    )


def test_mp4_box_walk_roundtrip_and_guards():
    """ISO BMFF codec: build -> box-walk round trip recovers
    timescale/duration and the 16.16 fixed-point track dimensions;
    non-BMFF payloads come back container='unknown'; a corrupt box
    size raises rather than walking out of bounds."""
    import pytest as _pytest

    from training_flink_sql_cc_src_spark.functions.media import (
        mp4_bytes,
        parse_mp4_metadata,
    )

    for ts, dur, w, h in [(90000, 123456, 1920, 1080), (1000, 1, 16, 16)]:
        meta = parse_mp4_metadata(mp4_bytes(ts, dur, w, h))
        assert meta == {
            "container": "mp4",
            "timescale": ts,
            "duration": dur,
            "width": w,
            "height": h,
        }
    assert parse_mp4_metadata(b"garbage")["container"] == "unknown"
    assert parse_mp4_metadata(None)["container"] == "unknown"
    data = bytearray(mp4_bytes(1000, 10, 32, 32))
    data[0:4] = (2**31).to_bytes(4, "big")  # ftyp box size out of bounds
    with _pytest.raises(ValueError, match="out of bounds"):
        parse_mp4_metadata(bytes(data))


def test_mp4_special_box_sizes():
    """ISO 14496-12 §4.2 (ADVICE r11): size==1 boxes carry a 64-bit
    largesize after the tag (common for big mdat), size==0 boxes extend
    to the end of the enclosing container — both must parse, not raise.
    """
    import struct as _struct

    import pytest as _pytest

    from training_flink_sql_cc_src_spark.functions.media import (
        mp4_bytes,
        parse_mp4_metadata,
    )

    base = mp4_bytes(90000, 4242, 640, 480)
    payload = b"\x00" * 24
    # 64-bit largesize mdat between ftyp and moov
    large_mdat = (
        _struct.pack(">I", 1) + b"mdat"
        + _struct.pack(">Q", 16 + len(payload)) + payload
    )
    ftyp_len = int.from_bytes(base[0:4], "big")
    ftyp, moov = base[:ftyp_len], base[ftyp_len:]
    meta = parse_mp4_metadata(ftyp + large_mdat + moov)
    assert (meta["timescale"], meta["duration"]) == (90000, 4242)
    assert (meta["width"], meta["height"]) == (640, 480)
    # size==0 trailing mdat extends to end-of-file
    tail_mdat = _struct.pack(">I", 0) + b"mdat" + payload
    meta = parse_mp4_metadata(base + tail_mdat)
    assert (meta["timescale"], meta["duration"]) == (90000, 4242)
    # truncated largesize must still raise loudly
    with _pytest.raises(ValueError, match="largesize"):
        parse_mp4_metadata(ftyp + _struct.pack(">I", 1) + b"mdat")


def test_jpeg_fill_bytes_and_standalone_markers():
    """T.81 B.1.1.2 (ADVICE r11): 0xFF fill bytes between segments and
    length-less standalone markers (TEM 0x01) are legal in wild JPEGs
    and must not desynchronize the marker walk."""
    import numpy as np

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_jpeg_pixels,
        jpeg_bytes_with_pixels,
    )

    px = np.full((8, 8), 99, dtype=np.uint8)
    data = jpeg_bytes_with_pixels(px, quality=100)
    # inject fill bytes + a TEM marker right after SOI
    wild = data[:2] + b"\xff\xff\xff" + b"\xff\x01" + data[2:]
    assert np.array_equal(decode_jpeg_pixels(wild), decode_jpeg_pixels(data))


def test_adpcm_codec_blocks_and_guards():
    """IMA ADPCM: the block walk emits each block's header predictor as
    a sample then one sample per nibble; multi-block continuation
    headers carry the running state; the fact chunk truncates pad
    nibbles; stereo and bad header state raise loudly."""
    import numpy as np
    import pytest as _pytest

    from training_flink_sql_cc_src_spark.functions.media import (
        _adpcm_step_nibble,
        decode_wav_samples,
        wav_bytes_adpcm,
    )

    nibs = [(3 * j) % 16 for j in range(51)]  # odd count -> pad nibble
    p0, i0 = -12345, 40

    def ref(nib_per_block):
        out, p, i = [], p0, i0
        for b0 in range(0, len(nibs), nib_per_block):
            out.append(p)
            for n in nibs[b0 : b0 + nib_per_block]:
                p, i = _adpcm_step_nibble(p, i, n)
                out.append(p)
        return out

    sr, one = decode_wav_samples(wav_bytes_adpcm(8000, nibs, p0, i0))
    assert sr == 8000 and one[:, 0].tolist() == ref(10**9)

    _, multi = decode_wav_samples(
        wav_bytes_adpcm(8000, nibs, p0, i0, block_align=16)
    )
    assert multi[:, 0].tolist() == ref((16 - 4) * 2)

    with _pytest.raises(ValueError, match="block_align"):
        wav_bytes_adpcm(8000, nibs, p0, i0, block_align=7)
    with _pytest.raises(ValueError, match="header state"):
        wav_bytes_adpcm(8000, nibs, 0, 89)


def test_png_gray_and_palette_roundtrip():
    """PNG decode extensions (round 11): grayscale (color type 0)
    round-trips as (h, w, 1); palette (type 3) unfilters the index
    stream then maps through the CRC-checked PLTE; out-of-range
    palette indices and missing PLTE raise loudly."""
    import numpy as np
    import pytest as _pytest

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_png_pixels,
        png_bytes_palette,
        png_bytes_with_pixels,
    )

    rng = np.random.RandomState(7)
    g = rng.randint(0, 256, (13, 17)).astype(np.uint8)
    out = decode_png_pixels(png_bytes_with_pixels(g, "cycle"))
    assert out.shape == (13, 17, 1) and np.array_equal(out[:, :, 0], g)

    pal = rng.randint(0, 256, (64, 3)).astype(np.uint8)
    idx = rng.randint(0, 64, (11, 19)).astype(np.uint8)
    out2 = decode_png_pixels(png_bytes_palette(idx, pal, "cycle"))
    assert np.array_equal(out2, pal[idx])

    with _pytest.raises(ValueError, match="out of range"):
        png_bytes_palette(np.full((4, 4), 63, np.uint8), pal[:32])


def test_decoders_read_wild_third_party_files():
    """The PNG/JPEG decoders must read REAL files produced by other
    encoders (libjpeg/libpng), not just this repo's own builders. The
    container ships IPython/Jupyter test images; skip gracefully where
    they're absent. IPython's 2x2.jpg and 2x2.png encode the same
    uniform gray raster, so the two decoders must agree pixel-exactly
    (a uniform block survives JPEG quantization exactly)."""
    import glob
    import os

    import numpy as np
    import pytest as _pytest

    from training_flink_sql_cc_src_spark.functions.media import (
        decode_jpeg_pixels,
        decode_png_pixels,
        parse_media_header,
    )

    roots = [
        os.path.dirname(os.path.dirname(os.__file__)),  # site lib root
        "/usr/share",
    ]
    jpgs, pngs = [], []
    for root in roots:
        jpgs += glob.glob(
            os.path.join(root, "**", "IPython", "**", "2x2.jpg"),
            recursive=True,
        )
        pngs += glob.glob(
            os.path.join(root, "**", "IPython", "**", "2x2.png"),
            recursive=True,
        )
    # any real PNG is better than none: fall back to idlelib icons
    if not pngs:
        for root in roots:
            pngs += glob.glob(
                os.path.join(root, "**", "idlelib", "Icons", "idle_16.png"),
                recursive=True,
            )
    if not jpgs and not pngs:
        _pytest.skip("no third-party image files present in this env")
    for f in pngs[:1]:
        data = open(f, "rb").read()
        assert parse_media_header(data)["container"] == "png"
        px = decode_png_pixels(data)
        assert px.dtype == np.uint8 and px.ndim == 3
    if jpgs:
        jd = open(jpgs[0], "rb").read()
        assert parse_media_header(jd)["container"] == "jpeg"
        jpx = decode_jpeg_pixels(jd)
        assert jpx.shape == (2, 2)
        sibling = os.path.join(os.path.dirname(jpgs[0]), "2x2.png")
        if os.path.exists(sibling):
            ppx = decode_png_pixels(open(sibling, "rb").read())
            assert np.array_equal(jpx, ppx[:, :, 0])
