"""Multimodal kernel parity tests — the reference's Rust-vs-Python house
style (``tests/test_rust_accelerated_ops.py:26-124``) re-aimed at
Spark-UDF-vs-Python-spec, tolerance 1e-5 on float kernels
(``test_image_technical_quality.py:145-146``)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.operators import multimodal as MM


def _payloads():
    # deterministic varied byte payloads incl. edge cases
    out = []
    for seed in ["a", "b", "gradient", "x" * 100]:
        h = b""
        cur = seed.encode()
        for _ in range(8):
            cur = hashlib.md5(cur).digest()
            h += cur
        out.append(h)
    out.append(bytes(range(256)))  # max entropy ramp
    out.append(b"\x00" * 64)  # zero entropy
    out.append(b"abc")  # too short -> error path
    out.append(None)  # null -> error path
    return out


@pytest.fixture(scope="module")
def bin_df(spark):
    rows = [(i, b) for i, b in enumerate(_payloads())]
    return spark.createDataFrame(rows, "id long, image_bytes binary")


def test_metadata_udf_matches_python_spec(spark, bin_df):
    got = (
        MM.image_metadata_refiner()
        .apply(bin_df)
        .orderBy("id")
        .collect()
    )
    for row, b in zip(got, _payloads()):
        w, h, s, fmt = MM.decode_image_meta_py(b)
        assert (row.image_width, row.image_height, row.image_file_size_bytes, row.image_format) == (w, h, s, fmt)


def _real_headers() -> dict[str, bytes]:
    """Genuine (minimal but structurally valid) image file headers."""
    png = (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + (640).to_bytes(4, "big")
        + (480).to_bytes(4, "big")
        + b"\x08\x02\x00\x00\x00" + b"\x00" * 16
    )
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 16
    jpeg = (
        b"\xff\xd8\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (480).to_bytes(2, "big")  # height first in SOF
        + (640).to_bytes(2, "big")
        + b"\x03" + b"\x00" * 10
    )
    webp_x = (
        b"RIFF" + (40).to_bytes(4, "little") + b"WEBP"
        + b"VP8X" + (10).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (640 - 1).to_bytes(3, "little") + (480 - 1).to_bytes(3, "little")
        + b"\x00" * 8
    )
    webp_l = (
        b"RIFF" + (24).to_bytes(4, "little") + b"WEBP"
        + b"VP8L" + (12).to_bytes(4, "little")
        + b"\x2f"
        + ((640 - 1) | ((480 - 1) << 14)).to_bytes(4, "little")
        + b"\x00" * 8
    )
    return {"PNG": png, "GIF": gif, "JPEG": jpeg, "WEBP": webp_x, "WEBP_L": webp_l}


def test_real_header_parse_pure_struct():
    dims = {"PNG": (640, 480), "GIF": (320, 200), "JPEG": (640, 480),
            "WEBP": (640, 480), "WEBP_L": (640, 480)}
    for kind, b in _real_headers().items():
        got = MM.parse_real_header(b)
        assert got is not None, kind
        w, h, fmt = got
        assert (w, h) == dims[kind], kind
        assert fmt == ("WEBP" if kind.startswith("WEBP") else kind)
    # corrupted real signatures fall back to None (→ fake byte math)
    assert MM.parse_real_header(b"\xff\xd8\xff" + b"\x00" * 20) is None
    assert MM.parse_real_header(b"\x89PNG\r\n\x1a\n" + b"\x00" * 20) is None
    # synthetic md5-derived payloads never hit the real branch
    for b in _payloads():
        if b:
            assert not MM._maybe_real(b)


def test_real_header_parser_on_real_files(spark):
    """Round-4 parity fixtures: the committed corpus of GENUINE tiny
    files (tests/fixtures/images — valid PNG/GIF incl. real LZW,
    structurally complete baseline + progressive JPEG with real
    entropy-coded scans, WEBP VP8/VP8L/VP8X headers; see
    make_image_fixtures.py) must parse to their true dimensions both
    directly and through the Spark refiner, and — where a container has
    PIL — must agree with PIL (the reference's decoder,
    image_metadata.py:38-62)."""
    import os

    from tests.make_image_fixtures import FIXTURES, OUT

    assert os.path.isdir(OUT), "run tests/make_image_fixtures.py"
    blobs = {}
    for name, (_, exp) in FIXTURES.items():
        b = open(os.path.join(OUT, name), "rb").read()
        blobs[name] = b
        assert MM.parse_real_header(b) == exp, name
    # through the Spark refiner (mapInPandas path)
    rows = [(i, b) for i, b in enumerate(blobs.values())]
    df = spark.createDataFrame(rows, "id long, image_bytes binary")
    got = {r.id: r for r in MM.image_metadata_refiner().apply(df).collect()}
    for i, (name, (_, (w, h, fmt))) in enumerate(FIXTURES.items()):
        r = got[i]
        assert (r.image_width, r.image_height, r.image_format) == (w, h, fmt), name
        assert r.image_file_size_bytes == len(blobs[name])
    # gated PIL parity — the reference's own decode path
    try:
        import io

        from PIL import Image  # noqa: F401
    except ImportError:
        return
    for name, b in blobs.items():
        if "vp8" in name:
            continue  # PIL's webp support varies by build
        with Image.open(io.BytesIO(b)) as im:
            assert (im.width, im.height) == FIXTURES[name][1][:2], name


def test_metadata_udf_real_headers_end_to_end(spark):
    rows = [(i, b) for i, b in enumerate(_real_headers().values())]
    df = spark.createDataFrame(rows, "id long, image_bytes binary")
    got = {r.id: r for r in MM.image_metadata_refiner().apply(df).collect()}
    for i, (kind, b) in enumerate(_real_headers().items()):
        w, h, s, fmt = MM.decode_image_meta_py(b)
        r = got[i]
        assert (r.image_width, r.image_height, r.image_file_size_bytes, r.image_format) == (w, h, s, fmt)
        assert r.image_width > 0 and r.image_format != "ERROR", kind


def test_metadata_error_convention(spark, bin_df):
    rows = {r.id: r for r in MM.image_metadata_refiner().apply(bin_df).collect()}
    short_id = len(_payloads()) - 2
    assert rows[short_id].image_format == "ERROR"
    assert rows[short_id].image_width == 0


def test_technical_quality_parity_1e5(spark, bin_df):
    got = MM.technical_quality_refiner().apply(bin_df).orderBy("id").collect()
    for row, b in zip(got, _payloads()):
        art, ent = MM.technical_quality_py(b)
        assert abs(row.image_compression_artifacts - art) < 1e-5
        assert abs(row.image_information_entropy - ent) < 1e-5


def test_technical_quality_batch_bit_equals_row_spec():
    """The vectorized Arrow-batch kernel must reproduce the per-row spec
    BIT-EXACTLY at the float32 output precision — including the length
    buckets the fake pipeline never produces (odd lengths, <16 bytes,
    None, no-blockiness lengths) so real variable-size payloads stay
    covered."""
    import numpy as np
    import pandas as pd

    cases = list(_payloads()) + [
        None,
        b"",
        b"\x01" * 8,          # < 16 bytes -> (0, 0)
        b"\x00" * 16,         # n8 = 1: one boundary
        bytes(range(256)),    # uniform histogram, entropy 8
        b"\xff" * 17,         # odd length
        bytes(range(64)) * 3, # 192 bytes, distinct bucket
        b"ab" * 20,           # 40 bytes
    ]
    got = MM.technical_quality_batch(pd.Series(cases, dtype=object))
    for i, b in enumerate(cases):
        art, ent = MM.technical_quality_py(b)
        assert np.float32(art) == got.iloc[i, 0], (i, art, got.iloc[i, 0])
        assert np.float32(ent) == got.iloc[i, 1], (i, ent, got.iloc[i, 1])


def test_entropy_extremes(spark):
    # 256-byte ramp: perfectly uniform histogram -> entropy 8.0
    _, ent = MM.technical_quality_py(bytes(range(256)))
    assert abs(ent - 8.0) < 1e-9
    _, ent0 = MM.technical_quality_py(b"\x00" * 64)
    assert ent0 == 0.0


def test_phash_parity_and_fallback(spark, bin_df):
    got = bin_df.select("id", MM.phash_udf(F.col("image_bytes")).alias("ph")).orderBy("id").collect()
    for row, b in zip(got, _payloads()):
        assert row.ph == MM.phash_py(b)
    # short/None payloads -> None (caller falls back to id)
    assert got[-1].ph is None and got[-2].ph is None


def test_phash_dedup_identical_payloads(spark):
    b = _payloads()[0]
    df = spark.createDataFrame(
        [(1, b), (2, b), (3, _payloads()[1]), (4, None), (5, None)],
        "doc_id long, image_bytes binary",
    )
    kept = {r.doc_id for r in MM.phash_dedup(df).collect()}
    # 2 dups of payload A -> keep min id; None rows never dedup (id fallback)
    assert kept == {1, 3, 4, 5}


def test_frame_sample_expansion(spark):
    df = spark.createDataFrame([(1, bytes(64)), (2, None)], "doc_id long, video_bytes binary")
    frames = MM.frame_sample_map_in_pandas(df, every_n=4)
    rows = frames.collect()
    assert {r.doc_id for r in rows} == {1}  # null payload skipped
    assert len(rows) == 4  # 64 // (4*4)
    assert all(len(r.frame_bytes) == 4 for r in rows)


def test_decode_real_raises_without_pil():
    if MM.HAVE_PIL:
        pytest.skip("PIL present")
    with pytest.raises(NotImplementedError):
        MM.decode_image_real(b"123")


def test_resize_pool_parity_and_nulls(spark):
    import numpy as np

    payloads = _payloads()
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(payloads)] + [(99, None), (100, b"tiny")],
        "doc_id long, image_bytes binary",
    )
    got = {
        r.doc_id: r.rb
        for r in df.select(
            "doc_id", MM.resize_pool_udf("image_bytes").alias("rb")
        ).collect()
    }
    for i, b in enumerate(payloads):
        want = MM.resize_pool_py(b)
        if want is None:  # short/None payloads -> None passthrough
            assert got[i] is None
        else:
            assert bytes(got[i]) == want and len(want) == 16
    assert got[99] is None and got[100] is None
    # pooling spec: each output byte is the floor-mean of its 2x2 block
    g = np.frombuffer(payloads[0][:64], dtype=np.uint8).reshape(8, 8)
    manual = (int(g[0, 0]) + int(g[0, 1]) + int(g[1, 0]) + int(g[1, 1])) // 4
    assert MM.resize_pool_py(payloads[0])[0] == manual


def test_audio_features_parity(spark):
    import math

    payloads = _payloads()
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(payloads)] + [(99, None)],
        "doc_id long, audio_bytes binary",
    )
    out = MM.audio_features_refiner().apply(df)
    got = {r.doc_id: r for r in out.collect()}
    for i, b in enumerate(payloads):
        d, rms, zcr = MM.audio_features_py(b)
        assert got[i].audio_duration_s == pytest.approx(d, abs=1e-12)
        assert got[i].audio_rms == pytest.approx(rms, abs=1e-9)
        assert got[i].audio_zcr == pytest.approx(zcr, abs=1e-12)
        assert 0.0 <= zcr <= 1.0 and rms >= 0.0
    assert got[99].audio_rms == 0.0 and got[99].audio_duration_s == 0.0


def test_dominant_color_parity_and_nulls(spark):
    from webscale_multimodal_datapipeline_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc"), (3, "gamma")], "id long, text string"
    ).withColumn("image_bytes", MM.fake_image_bytes("text"))
    out = {r.id: r for r in MM.dominant_color_refiner().apply(df).collect()}
    src = {r.id: bytes(r.image_bytes) for r in df.collect()}
    for i, b in src.items():
        want = MM.dominant_color_py(b)
        got = (out[i].color_r, out[i].color_g, out[i].color_b)
        assert got == want
        assert all(0 <= v <= 255 for v in got)
    # null payload -> null channels, no crash
    nulls = spark.createDataFrame([(9,)], "id long").withColumn(
        "image_bytes", F.lit(None).cast("binary")
    )
    r = MM.dominant_color_refiner().apply(nulls).first()
    assert r.color_r is None and r.color_g is None and r.color_b is None


def test_frame_sample_udtf_parity_with_map_in_pandas(spark):
    """The Spark-4 UDTF+LATERAL frame expansion yields exactly the rows
    the mapInPandas path yields, including the None-payload drop and the
    at-least-one-frame floor."""
    from webscale_multimodal_datapipeline_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(1, bytes(range(40))), (2, None), (3, bytes(range(8))), (4, b"")],
        "doc_id long, video_bytes binary",
    )
    a = MM.frame_sample_map_in_pandas(df, every_n=2).select(
        "doc_id", "frame_index", "frame_bytes"
    ).collect()
    b = MM.frame_sample_lateral_udtf(spark, df, every_n=2).select(
        "doc_id", "frame_index", "frame_bytes"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0


def test_phash_blocklist_filter_split_and_null_safety(spark):
    from pyspark.sql import functions as F

    from webscale_multimodal_datapipeline_spark.operators import multimodal as MM
    from webscale_multimodal_datapipeline_spark.operators.registry import create

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(50)
        .withColumn("image_bytes", MM.fake_image_bytes("text"))
    )
    # NULL payload row: phash NULL -> must never be dropped by the blocklist
    d = d.unionByName(
        d.limit(1).withColumn("doc_id", F.lit(-1)).withColumn(
            "image_bytes", F.lit(None).cast("binary")
        )
    )
    bad = [
        r[0]
        for r in d.filter("doc_id >= 0")
        .limit(2)
        .select(MM.phash_udf_for("fake")(F.col("image_bytes")))
        .collect()
    ]
    op = create("phash_blocklist_filter", hashes=tuple(bad))
    res = op.split(d)
    n_in, n_pass, n_rej = d.count(), res.passed.count(), res.rejected.count()
    assert n_pass + n_rej == n_in
    assert n_rej == 2
    # the NULL-phash row survived
    assert res.passed.filter("doc_id = -1").count() == 1
    # rejected rows carry the dedup_key-style annotation
    row = res.rejected.select("_rejection_details.*").first()
    assert row["reason"] == "phash_blocklisted"
    assert row["dedup_key"] in bad
    # operator result == the registered query's semantics (anti-join)
    kept_ids = {r[0] for r in res.passed.select("doc_id").collect()}
    manual = {
        r[0]
        for r in d.withColumn("_p", MM.phash_udf_for("fake")(F.col("image_bytes")))
        .filter(~F.coalesce(F.col("_p").isin(bad), F.lit(False)))
        .select("doc_id")
        .collect()
    }
    assert kept_ids == manual


def test_flesch_refiner_matches_query_expression(spark):
    from pyspark.sql import functions as F

    from webscale_multimodal_datapipeline_spark.operators.registry import create
    from webscale_multimodal_datapipeline_spark.plans.registry import QUERIES

    out = (
        create("flesch_reading_ease_refiner")
        .apply(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
        .select("doc_id", F.col("flesch_reading_ease").alias("fre"))
    )
    q = QUERIES["t_flesch_reading_ease"](spark, "/root/testdata/sf0.001").select(
        "doc_id", "fre"
    )
    diff = out.alias("a").join(q.alias("b"), "doc_id").filter("a.fre <> b.fre")
    assert diff.count() == 0


def test_jpeg_scrub_real_fixtures(spark):
    """Scrub of genuine JPEGs: APPn/COM gone, dimensions still parse,
    non-JPEG payloads pass through byte-identical, and the registry
    operator exposes the same semantics."""
    import os

    from tests.make_image_fixtures import FIXTURES, OUT
    from webscale_multimodal_datapipeline_spark.operators.registry import create

    for name in FIXTURES:
        b = open(os.path.join(OUT, name), "rb").read()
        s = MM.jpeg_scrub_py(b)
        if name.endswith(".jpg"):
            assert len(s) <= len(b), name
            # dims survive the scrub; no APP1..APP15 / COM markers remain
            assert MM.parse_real_header(s) == MM.parse_real_header(b), name
            i = 2
            while i + 4 <= len(s) and s[i] == 0xFF:
                marker = s[i + 1]
                assert not (0xE1 <= marker <= 0xEF or marker == 0xFE), name
                if marker == 0xDA or marker == 0xD9:
                    break
                i += 2 + int.from_bytes(s[i + 2 : i + 4], "big")
        else:
            assert s == b, name  # never touch what it cannot parse
    # malformed input passes through unchanged
    assert MM.jpeg_scrub_py(b"\xff\xd8\xff\xe1\x00") == b"\xff\xd8\xff\xe1\x00"
    assert MM.jpeg_scrub_py(None) is None
    # all-or-nothing: a truncated APP1 whose declared length overruns the
    # buffer must return the ORIGINAL bytes (never a half-scrubbed file
    # that reports success while partial EXIF survives)
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    com = b"\xff\xfe\x00\x05BBB"
    trunc_app1 = b"\xff\xe1\x0f\xffExif\x00\x00GPSDATA"  # claims 4095, has 13
    truncated = b"\xff\xd8" + app0 + com + trunc_app1
    assert MM.jpeg_scrub_py(truncated) == truncated
    # registry operator
    jpg = open(os.path.join(OUT, "tiny_8x8_baseline.jpg"), "rb").read()
    df = spark.createDataFrame([(1, jpg)], "id long, image_bytes binary")
    row = create("jpeg_scrub_refiner").apply(df).collect()[0]
    assert row.image_scrub_removed == len(jpg) - len(MM.jpeg_scrub_py(jpg))
    assert bytes(row.image_scrubbed_bytes) == MM.jpeg_scrub_py(jpg)


def _leaf_names(df) -> set[str]:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return {leaves.apply(i).nodeName() for i in range(leaves.size())}


def test_inline_phash_blocklist_is_a_local_relation(spark, tmp_path):
    """The inline ``hashes`` list is built on the driver as an Arrow
    LocalRelation of its distinct non-NULL keys: reading it needs no
    Python worker, and no aggregate is left to plan over it."""
    op = MM.PhashBlocklistFilter(hashes=("0123456789abcdef", None, "0123456789abcdef"))
    block = op._blocklist(spark.range(1))
    assert _leaf_names(block) == {"LocalRelation"}
    assert block.schema.simpleString() == "struct<_bad:string>"
    assert [tuple(r) for r in block.collect()] == [("0123456789abcdef",)]
    # the parquet-list branch yields the same keys
    path = str(tmp_path / "blocklist")
    spark.createDataFrame([(h,) for h in op.hashes], "phash string").write.parquet(path)
    from_file = MM.PhashBlocklistFilter(blocklist_path=path)._blocklist(spark.range(1))
    assert [tuple(r) for r in from_file.collect()] == [("0123456789abcdef",)]


@pytest.mark.parametrize(
    "make, udf_name",
    [
        (lambda: MM.image_metadata_refiner(), "_meta"),
        (lambda: MM.technical_quality_refiner(), "_quality"),
        (lambda: MM.dominant_color_refiner(), "_color"),
        (lambda: MM.audio_features_refiner(bytes_col="image_bytes"), "audio_features_udf"),
    ],
)
def test_struct_refiner_runs_its_udf_once(spark, bin_df, make, udf_name):
    """A struct-returning kernel UDF is projected once and its fields are
    extracted from that column: one UDF call per row in the executed plan,
    also with a filter over an output column above it."""
    ref = make()
    out = ref.apply(bin_df)
    out = out.filter(F.col(next(iter(ref.columns))).isNotNull())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count(f"{udf_name}(") == 1, plan
    assert out.columns == bin_df.columns + list(ref.columns)
    assert out.count() > 0
