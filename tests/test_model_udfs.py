"""Model-UDF tier tests (R3-R5 lazy-singleton inference pattern).

House style: Python-spec vs Spark-UDF parity on the same inputs
(reference ``tests/test_rust_accelerated_ops.py:26-124`` analog), plus the
singleton-cache, zero-vector, and backend-gate semantics. The numpy
backend runs in-container; the torch/PIL branches are gate-checked only
(absent here by design).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from webscale_multimodal_datapipeline_spark.operators import model_udfs as MU
from webscale_multimodal_datapipeline_spark.operators.multimodal import fake_image_bytes


@pytest.fixture(scope="module")
def img_df(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    return docs.select("doc_id", fake_image_bytes("text").alias("image_bytes"))


def test_embedding_unit_norm_and_dim(spark, img_df):
    out = MU.clip_embedding_refiner(model_name="t1").apply(img_df)
    rows = out.select("doc_id", "image_clip_emb_t1").collect()
    assert len(rows) == 50
    for r in rows:
        v = np.array(r["image_clip_emb_t1"], dtype=np.float64)
        assert v.shape == (64,)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-5


def test_embedding_parity_python_vs_udf(spark, img_df):
    """UDF output == direct Python-spec output on the same payloads."""
    payloads = [r.image_bytes for r in img_df.orderBy("doc_id").collect()]
    want = MU.embed_batch_py(payloads, "t1", 64, backend="numpy")
    got_rows = (
        MU.clip_embedding_refiner(model_name="t1", backend="numpy")
        .apply(img_df)
        .orderBy("doc_id")
        .collect()
    )
    got = np.array([r["image_clip_emb_t1"] for r in got_rows], dtype=np.float32)
    np.testing.assert_allclose(got, want, atol=1e-6)


def test_embedding_zero_vector_for_unreadable(spark):
    df = spark.createDataFrame(
        [(1, None), (2, b"short")], "id long, image_bytes binary"
    )
    out = MU.clip_embedding_refiner(bytes_col="image_bytes", model_name="t1").apply(df)
    for r in out.collect():
        assert all(x == 0.0 for x in r["image_clip_emb_t1"])


def test_embedding_deterministic_across_calls(spark, img_df):
    a = MU.clip_embedding_refiner(model_name="t2").apply(img_df).orderBy("doc_id").collect()
    b = MU.clip_embedding_refiner(model_name="t2").apply(img_df).orderBy("doc_id").collect()
    assert [r["image_clip_emb_t2"] for r in a] == [r["image_clip_emb_t2"] for r in b]


def test_siglip_dim_differs(spark, img_df):
    out = MU.siglip_embedding_refiner(model_name="s1").apply(img_df)
    r = out.select(F.size("image_siglip_emb_s1").alias("d")).first()
    assert r.d == 96


def test_model_singleton_cache():
    m1 = MU.get_model("cache-test", (64, 128, 8), backend="numpy")
    m2 = MU.get_model("cache-test", (64, 128, 8), backend="numpy")
    assert m1 is m2


def test_checkpoint_deterministic():
    w1, b1 = MU.np_checkpoint("fixed", (4, 3))
    w2, b2 = MU.np_checkpoint("fixed", (4, 3))
    np.testing.assert_array_equal(w1[0], w2[0])
    np.testing.assert_array_equal(b1[0], b2[0])


def test_visual_degradations_scores_and_nulls(spark, img_df):
    out = MU.visual_degradations_refiner().apply(img_df)
    r = out.first()
    for h in MU.VD_HEADS:
        assert 0.0 <= r[f"img_vd_{h}"] <= 1.0
    # undecodable payload → NULL scores (reference None convention)
    bad = spark.createDataFrame([(1, None)], "id long, image_bytes binary")
    rb = MU.visual_degradations_refiner().apply(bad).first()
    assert all(rb[f"img_vd_{h}"] is None for h in MU.VD_HEADS)
    # the five heads are fields of ONE model call per row
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("_vd(") == 1, plan


def test_torch_gate_raises_without_torch():
    if MU.HAVE_TORCH:  # pragma: no cover - container has no torch
        pytest.skip("torch present")
    with pytest.raises(NotImplementedError, match="torch"):
        MU.get_model("g", (64, 128, 8), backend="torch")


def test_pil_gate_raises_without_pil(spark):
    from webscale_multimodal_datapipeline_spark.operators import multimodal as MM

    if MM.HAVE_PIL:  # pragma: no cover - container has no PIL
        pytest.skip("PIL present")
    with pytest.raises(NotImplementedError, match="PIL"):
        MM.image_metadata_refiner(backend="pil")
