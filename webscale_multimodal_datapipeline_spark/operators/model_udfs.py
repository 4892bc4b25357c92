"""Model-inference UDFs — the lazy per-executor-singleton tier (R3-R5).

The reference's embedding/scoring refiners load a torch tower once per
worker and run mini-batched inference over it:

- CLIP visual tower, fp16-on-CUDA, mini-batch 32, L2-normalized output,
  zero-vector default for unreadable images
  (``operators/refiners/image_clip_embedding.py:85-169``);
- SigLIP vision tower, pooled + normalized
  (``image_siglip_embedding.py:31-220``);
- multi-head degradation CNN, ``None`` columns when no model is available
  (``image_visual_degradations.py:40-192``, lazy load ``:73-102``).

Spark shape: a ``pandas_udf`` whose body (a) fetches the model from an
executor-local singleton cache (pay the load once per Python worker, the
reference's lazy-load semantics), (b) preprocesses the Arrow batch,
(c) loops mini-batches of ``batch_size`` through the tower, (d) L2
normalizes, writing zero vectors for undecodable rows.

Backends, picked at runtime (parity tests exercise whichever is present):

- ``torch`` — real tensor forward, fp16 on CUDA (gated; absent here);
- ``numpy`` — the in-container fallback: the SAME architecture and the
  SAME deterministic checkpoint, forward in float64 numpy.

The "checkpoint" is deterministic (seeded by crc32 of the model name) so
results are reproducible across executors, sessions, and engines — it
stands in for loading real weight files, keeping load/dispatch/batching
real while the container lacks torch and codecs.

Preprocessing likewise gates on PIL: with codecs present, payloads are
decoded and resized to the model's input grid; without, the deterministic
64-byte stand-in grid (``multimodal.fake_image_bytes``) is the pixel
source. Undecodable/short payloads take the reference's zero-vector path.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame  # noqa: F401 (DataFrame in hints)
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from webscale_multimodal_datapipeline_spark.operators.base import RefinerOperator, struct_refiner
from webscale_multimodal_datapipeline_spark.operators.multimodal import HAVE_PIL

HAVE_TORCH = False
try:  # pragma: no cover - torch absent in this container
    import torch  # noqa: F401

    HAVE_TORCH = True
except ImportError:
    pass

IMG_FEAT_DIM = 64  # stand-in payloads are 64 bytes = the 8x8 input grid
DEFAULT_BATCH_SIZE = 32  # reference inference_batch_size (image_clip_embedding.py:134)

# Executor-local model singletons: one entry per (model, backend). Lives in
# the Python worker process, so each executor pays the load exactly once —
# the reference's lazy per-actor model load (image_visual_degradations.py:73-102).
_MODEL_CACHE: dict[str, object] = {}


def np_checkpoint(name: str, layer_dims: tuple[int, ...]) -> tuple[list, list]:
    """Deterministic MLP 'checkpoint' for ``name``: seeded-RNG weights
    (crc32 seed — stable across processes, unlike salted ``hash()``).
    Stands in for reading a real weight file; both backends consume it."""
    rng = np.random.default_rng(zlib.crc32(name.encode()))
    weights, biases = [], []
    for din, dout in zip(layer_dims, layer_dims[1:]):
        weights.append(rng.standard_normal((din, dout)) / np.sqrt(din))
        biases.append(rng.standard_normal(dout) * 0.01)
    return weights, biases


class NumpyTower:
    """In-container backend: float64 numpy forward, tanh hidden layers."""

    def __init__(self, name: str, layer_dims: tuple[int, ...]):
        self.weights, self.biases = np_checkpoint(name, layer_dims)

    def forward(self, x: np.ndarray) -> np.ndarray:
        h = x
        for w, b in zip(self.weights[:-1], self.biases[:-1]):
            h = np.tanh(h @ w + b)
        return h @ self.weights[-1] + self.biases[-1]


class TorchTower:  # pragma: no cover - torch absent in this container
    """Torch backend: same checkpoint, fp16 on CUDA (reference
    ``image_clip_embedding.py:85-101`` tower semantics)."""

    def __init__(self, name: str, layer_dims: tuple[int, ...]):
        import torch

        weights, biases = np_checkpoint(name, layer_dims)
        self.device = "cuda" if torch.cuda.is_available() else "cpu"
        dtype = torch.float16 if self.device == "cuda" else torch.float32
        self.weights = [
            torch.as_tensor(w, device=self.device, dtype=dtype) for w in weights
        ]
        self.biases = [
            torch.as_tensor(b, device=self.device, dtype=dtype) for b in biases
        ]

    def forward(self, x: np.ndarray) -> np.ndarray:
        import torch

        with torch.no_grad():
            h = torch.as_tensor(
                x, device=self.device, dtype=self.weights[0].dtype
            )
            for w, b in zip(self.weights[:-1], self.biases[:-1]):
                h = torch.tanh(h @ w + b)
            out = h @ self.weights[-1] + self.biases[-1]
            return out.float().cpu().numpy()


def get_model(name: str, layer_dims: tuple[int, ...], backend: str = "auto"):
    """Fetch-or-build the executor-local singleton for ``name``.

    backend: 'auto' (torch when importable, else numpy), 'torch', 'numpy'.
    """
    if backend == "auto":
        backend = "torch" if HAVE_TORCH else "numpy"
    if backend == "torch" and not HAVE_TORCH:
        raise NotImplementedError(
            "backend='torch' requires torch; this container has none. "
            "Use backend='numpy' (same checkpoint, same outputs in fp32)."
        )
    key = f"{name}|{backend}|{layer_dims}"
    model = _MODEL_CACHE.get(key)
    if model is None:
        cls = TorchTower if backend == "torch" else NumpyTower
        model = cls(name, layer_dims)
        _MODEL_CACHE[key] = model
    return model


def preprocess_image(b: bytes | None) -> np.ndarray | None:
    """Payload → model-input feature vector in [0, 1], or None if
    undecodable (→ zero-vector output, reference error convention).

    PIL branch (gated): decode, grayscale, resize to the 8x8 input grid —
    the real-codec analog of the byte-grid stand-in."""
    if b is None or len(b) < IMG_FEAT_DIM:
        return None
    if HAVE_PIL:  # pragma: no cover - PIL absent in this container
        from io import BytesIO

        from PIL import Image

        try:
            img = Image.open(BytesIO(b)).convert("L").resize((8, 8))
            return np.asarray(img, dtype=np.float64).reshape(-1) / 255.0
        except Exception:
            return None
    return np.frombuffer(b[:IMG_FEAT_DIM], dtype=np.uint8).astype(np.float64) / 255.0


def embed_batch_py(
    payloads: list[bytes | None],
    model_name: str,
    dim: int,
    batch_size: int = DEFAULT_BATCH_SIZE,
    backend: str = "auto",
) -> np.ndarray:
    """Parity spec + UDF body: mini-batched tower forward over a batch of
    payloads, L2-normalized, zero vectors for undecodable rows — the exact
    loop shape of ``image_clip_embedding.py:134-169``."""
    model = get_model(model_name, (IMG_FEAT_DIM, 128, dim), backend)
    out = np.zeros((len(payloads), dim), dtype=np.float32)
    feats, rows = [], []
    for i, b in enumerate(payloads):
        v = preprocess_image(b)
        if v is not None:
            feats.append(v)
            rows.append(i)
    for s in range(0, len(feats), batch_size):
        x = np.stack(feats[s : s + batch_size])
        y = model.forward(x)
        norms = np.linalg.norm(y, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        out[rows[s : s + batch_size]] = (y / norms).astype(np.float32)
    return out


def embedding_udf(
    model_name: str,
    dim: int = 64,
    batch_size: int = DEFAULT_BATCH_SIZE,
    backend: str = "auto",
):
    """Arrow-batched bytes → array<float> embedding UDF (R4/R5 shape)."""

    # NB: no parameter annotations — `from __future__ import annotations`
    # stringifies them, which pandas_udf's signature inspection rejects.
    @pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(data):
        vecs = embed_batch_py(list(data), model_name, dim, batch_size, backend)
        return pd.Series(list(vecs))

    # pure, but the nondeterministic flag is the supported barrier against
    # Catalyst re-evaluating the UDF per consumer (see multimodal.py note)
    return _embed.asNondeterministic()


def clip_embedding_refiner(
    bytes_col: str = "image_bytes",
    model_name: str = "vit-l-14-sim",
    dim: int = 64,
    batch_size: int = DEFAULT_BATCH_SIZE,
    backend: str = "auto",
    name: str = "image_clip_embedding_refiner",
) -> RefinerOperator:
    """R4 ImageClipEmbeddingRefiner: adds ``image_clip_emb_{model}``
    (L2-normalized array<float>, zero vector for unreadable payloads)."""
    udf = embedding_udf(model_name, dim, batch_size, backend)
    return RefinerOperator(
        name, {f"image_clip_emb_{model_name}": udf(F.col(bytes_col))}
    )


def siglip_embedding_refiner(
    bytes_col: str = "image_bytes",
    model_name: str = "so400m-sim",
    dim: int = 96,
    batch_size: int = DEFAULT_BATCH_SIZE,
    backend: str = "auto",
    name: str = "image_siglip_embedding_refiner",
) -> RefinerOperator:
    """R5 ImageSigLIPEmbeddingRefiner (same machinery, wider default dim —
    the reference pair is 768-dim CLIP / 1152-dim SigLIP)."""
    udf = embedding_udf(model_name, dim, batch_size, backend)
    return RefinerOperator(
        name, {f"image_siglip_emb_{model_name}": udf(F.col(bytes_col))}
    )


# ---------------------------------------------------------------------------
# R3: multi-head visual degradations — one shared trunk, 5 score heads.
# Reference columns img_vd_{color_cast,blurriness,watermark,noise,
# overall_quality}, all None when no model is available
# (image_visual_degradations.py:104-149).
# ---------------------------------------------------------------------------

VD_HEADS = ("color_cast", "blurriness", "watermark", "noise", "overall_quality")


def visual_degradations_batch_py(
    payloads: list[bytes | None],
    model_name: str = "vd-multihead-sim",
    batch_size: int = DEFAULT_BATCH_SIZE,
    backend: str = "auto",
) -> np.ndarray:
    """Parity spec: sigmoid scores (n, 5); NaN rows for undecodable input
    (surfaced as NULLs — the reference's None-scores convention)."""
    model = get_model(model_name, (IMG_FEAT_DIM, 128, len(VD_HEADS)), backend)
    out = np.full((len(payloads), len(VD_HEADS)), np.nan, dtype=np.float64)
    feats, rows = [], []
    for i, b in enumerate(payloads):
        v = preprocess_image(b)
        if v is not None:
            feats.append(v)
            rows.append(i)
    for s in range(0, len(feats), batch_size):
        x = np.stack(feats[s : s + batch_size])
        y = model.forward(x)
        out[rows[s : s + batch_size]] = 1.0 / (1.0 + np.exp(-y))
    return out


def visual_degradations_udf(
    model_name: str = "vd-multihead-sim",
    batch_size: int = DEFAULT_BATCH_SIZE,
    backend: str = "auto",
):
    fields = [T.StructField(f"img_vd_{h}", T.FloatType()) for h in VD_HEADS]

    @pandas_udf(T.StructType(fields))
    def _vd(data):
        scores = visual_degradations_batch_py(
            list(data), model_name, batch_size, backend
        )
        pdf = pd.DataFrame(scores, columns=[f"img_vd_{h}" for h in VD_HEADS])
        return pdf.astype("float32")

    return _vd.asNondeterministic()


def visual_degradations_refiner(
    bytes_col: str = "image_bytes",
    model_name: str = "vd-multihead-sim",
    batch_size: int = DEFAULT_BATCH_SIZE,
    backend: str = "auto",
    name: str = "image_visual_degradations_refiner",
) -> RefinerOperator:
    """R3 ImageVisualDegradationsRefiner: five degradation scores from one
    shared trunk; NULL scores for unreadable payloads."""
    udf = visual_degradations_udf(model_name, batch_size, backend)
    return struct_refiner(name, udf(F.col(bytes_col)), [f"img_vd_{h}" for h in VD_HEADS])
