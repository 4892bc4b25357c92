"""Seeded input generators for the pipeline benchmark.

Every generator is a pure function of its seed: the same seed writes the
same rows and the same parquet bytes. Generation runs in one process, with
pyarrow and numpy only (no Spark), and is never inside a timed region.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Words that the url_filter word score or the Gopher rules react to; the
# random vocabulary must never produce them by chance.
SPAM_WORDS = ("casino", "poker", "spam")
RESERVED = {"casino", "poker", "spam", "hash", "vector", "stream"}
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")
N_SOURCES = 12
TEXT_FILES = 4


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _vocab(rng: random.Random, n: int = 3000) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in RESERVED and w not in STOPWORDS:
            words.add(w)
    return sorted(words)


def _sentence_doc(rng: random.Random, vocab: list[str], n_words: int) -> str:
    out = []
    for i in range(n_words):
        out.append(rng.choice(STOPWORDS) if rng.random() < 0.2 else rng.choice(vocab))
        if i % 17 == 16:
            out[-1] += "."
    return " ".join(out)


def _case_ws_variant(rng: random.Random, text: str) -> str:
    """Same normalized text: changed case, doubled/tabbed/newlined spaces."""
    words = text.split(" ")
    seps = [rng.choice((" ", "  ", "\t", " \n ")) for _ in words[1:]]
    body = words[0] + "".join(s + w for s, w in zip(seps, words[1:]))
    body = body.upper() if rng.random() < 0.5 else body.title()
    return "  " + body + " \n"


def _one_token_edit(rng: random.Random, vocab: list[str], text: str) -> str:
    words = text.split(" ")
    i = rng.randrange(len(words))
    words[i] = rng.choice(vocab)
    return " ".join(words)


def _low_quality_doc(rng: random.Random, vocab: list[str]) -> str:
    """Fails a Gopher rule: ellipsis lines, bullet spam or no stopwords."""
    kind = rng.randrange(3)
    if kind == 0:
        return "\n".join(
            " ".join(rng.choice(vocab) for _ in range(8)) + " ..." for _ in range(10)
        )
    if kind == 1:
        return "\n".join(
            "- " + " ".join(rng.choice(vocab) for _ in range(7)) for _ in range(10)
        )
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 120)))


def text_docs(seed: int, n: int) -> list[dict]:
    """CommonCrawl-shaped documents with planted duplicates and edge cases.

    Mix: ~8% exact duplicates (case/whitespace variants) and ~6%
    one-token-edit near-duplicates of earlier docs; 6% too short and 5% too
    long for the length filter; 4% Gopher failures; 3% spam-word docs; the
    rest (~68%) clean prose. Sources are Zipf-skewed: src0 holds ~1/3 of rows.
    """
    rng = random.Random(seed)
    vocab = _vocab(rng)
    weights = [1.0 / (k + 1) for k in range(N_SOURCES)]
    ids = rng.sample(range(1, 50 * n), n)
    rows: list[dict] = []
    for i in range(n):
        r = rng.random()
        if rows and r < 0.08:
            text = _case_ws_variant(rng, rng.choice(rows)["text"])
        elif rows and r < 0.14:
            text = _one_token_edit(rng, vocab, rng.choice(rows)["text"])
        elif r < 0.20:
            text = _sentence_doc(rng, vocab, rng.randint(5, 45))
        elif r < 0.25:
            text = _sentence_doc(rng, vocab, rng.randint(330, 420))
        elif r < 0.29:
            text = _low_quality_doc(rng, vocab)
        elif r < 0.32:
            text = _sentence_doc(rng, vocab, rng.randint(60, 150))
            text += " " + rng.choice(SPAM_WORDS)
        else:
            text = _sentence_doc(rng, vocab, rng.randint(55, 200))
        rows.append(
            {
                "doc_id": ids[i],
                "text": text,
                "lang": "en",
                "source": "src%d" % rng.choices(range(N_SOURCES), weights)[0],
                "n_chars": len(text),
            }
        )
    return rows


def _text_table(rows: list[dict]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
            "source": pa.array([r["source"] for r in rows], pa.string()),
            "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64()),
        }
    )


def write_text(seed: int, n: int, out_dir: str) -> int:
    """Multi-file parquet dataset of ``text_docs``; returns the row count."""
    rows = text_docs(seed, n)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(rows) // TEXT_FILES)
    for k in range(TEXT_FILES):
        _write(_text_table(rows[k * step : (k + 1) * step]), f"{out_dir}/part-{k}.parquet")
    return len(rows)


# Cone-concentrated (CLIP-like) embeddings: a shared axis scaled by
# CONE_SCALE over unit Gaussian noise. At 16 the raw sign buckets collapse
# (the cosine operator's auto gate escalates to centered buckets) while a
# random pair's cosine stays near 0.8, under the 0.9 dedup threshold.
EMB_DIM = 64
CONE_SCALE = 16.0


def write_embeddings(seed: int, n: int, out_dir: str) -> int:
    """``vec_id, embedding list<float>, label``; ~12% planted near-duplicates
    (an earlier vector plus 1% noise, cosine > 0.99)."""
    rng = np.random.default_rng(seed)
    axis = np.zeros(EMB_DIM)
    axis[: EMB_DIM // 2] = 1.0 / np.sqrt(EMB_DIM // 2)
    vecs = CONE_SCALE * axis + rng.normal(0.0, 1.0, (n, EMB_DIM))
    dup = rng.random(n) < 0.12
    dup[0] = False
    for i in np.flatnonzero(dup):
        src = int(rng.integers(0, i))
        vecs[i] = vecs[src] + rng.normal(0.0, 0.01, EMB_DIM)
    ids = rng.permutation(np.arange(1, 4 * n, dtype=np.int64))[:n]
    os.makedirs(out_dir, exist_ok=True)
    emb = pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32()))
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
        }
    )
    _write(table, f"{out_dir}/part-0.parquet")
    return n


def _png(rng: random.Random, w: int, h: int, body: int) -> bytes:
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR" + ihdr
        + rng.randbytes(4) + rng.randbytes(body)
    )


def _gif(rng: random.Random, w: int, h: int, body: int) -> bytes:
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + rng.randbytes(body)


def _jpeg(rng: random.Random, w: int, h: int, body: int) -> bytes:
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    exif = b""
    if rng.random() < 0.5:  # EXIF segment for the scrubber to remove
        payload = b"Exif\x00\x00" + rng.randbytes(rng.randint(20, 200))
        exif = b"\xff\xe1" + (len(payload) + 2).to_bytes(2, "big") + payload
    sof = (
        b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03" + rng.randbytes(9)
    )
    sos = b"\xff\xda" + (12).to_bytes(2, "big") + rng.randbytes(10)
    return b"\xff\xd8" + app0 + exif + sof + sos + rng.randbytes(body) + b"\xff\xd9"


def image_records(seed: int, n: int) -> list[dict]:
    """Payloads with genuine PNG/GIF/JPEG headers (no codec: bytes are
    assembled by hand) of varied dimensions and sizes. ~4% are truncated to
    under 5 bytes (corrupt), ~8% repeat an earlier payload byte for byte.
    ``width``/``height``/``format`` record the truth (0/0/ERROR if corrupt)."""
    rng = random.Random(seed)
    ids = rng.sample(range(1, 50 * n), n)
    makers = (("PNG", _png), ("GIF", _gif), ("JPEG", _jpeg))
    rows: list[dict] = []
    for i in range(n):
        r = rng.random()
        if rows and r < 0.08:
            prev = rng.choice(rows)
            rows.append(dict(prev, doc_id=ids[i]))
            continue
        w, h = rng.randint(24, 1600), rng.randint(24, 1600)
        fmt, make = rng.choice(makers)
        payload = make(rng, w, h, rng.randint(200, 4000))
        if r < 0.12:
            payload, w, h, fmt = payload[: rng.randint(0, 4)], 0, 0, "ERROR"
        rows.append({"doc_id": ids[i], "image_bytes": payload, "width": w, "height": h, "format": fmt})
    return rows


def write_images(seed: int, n: int, out_dir: str, truth_path: str) -> int:
    """Payload parquet under ``out_dir``; header truth per id at ``truth_path``."""
    rows = image_records(seed, n)
    os.makedirs(out_dir, exist_ok=True)
    ids = pa.array([r["doc_id"] for r in rows], pa.int64())
    payloads = pa.array([r["image_bytes"] for r in rows], pa.binary())
    _write(pa.table({"doc_id": ids, "image_bytes": payloads}), f"{out_dir}/part-0.parquet")
    truth = {k: [r[k] for r in rows] for k in ("width", "height", "format")}
    _write(pa.table({"doc_id": ids, **truth}), truth_path)
    return n


def cdc_epoch(seed: int, epoch: int, n: int) -> list[dict]:
    """One crawl epoch: ~25% re-crawls of docs from earlier epochs (verbatim
    or case/whitespace variants), ~10% within-epoch duplicates, the rest
    new. Epoch ``e`` depends only on ``(seed, e)`` and regenerates its
    predecessors' docs from their own seeds, so any epoch can be written
    without the others on disk."""
    rng = random.Random(seed * 1_000_003 + epoch)
    vocab = _vocab(random.Random(seed))
    base = epoch * 10 * n
    rows: list[dict] = []
    for i in range(n):
        r = rng.random()
        if epoch and r < 0.25:
            old_epoch = rng.randrange(epoch)
            old = _cdc_fresh_text(seed, old_epoch, rng.randrange(n), vocab)
            text = old if rng.random() < 0.5 else _case_ws_variant(rng, old)
        elif rows and r < 0.35:
            text = _case_ws_variant(rng, rng.choice(rows)["text"])
        else:
            text = _cdc_fresh_text(seed, epoch, i, vocab)
        rows.append({"doc_id": base + rng.randrange(10 * n), "text": text})
    # doc ids unique within the epoch: re-draw collisions deterministically
    seen: set[int] = set()
    for row in rows:
        while row["doc_id"] in seen:
            row["doc_id"] = base + (row["doc_id"] - base + 1) % (10 * n)
        seen.add(row["doc_id"])
    return rows


def _cdc_fresh_text(seed: int, epoch: int, i: int, vocab: list[str]) -> str:
    rng = random.Random((seed * 1_000_003 + epoch) * 65_537 + i)
    return _sentence_doc(rng, vocab, rng.randint(20, 80))


def write_cdc_epoch(seed: int, epoch: int, n: int, path: str) -> list[dict]:
    rows = cdc_epoch(seed, epoch, n)
    _write(
        pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
                "text": pa.array([r["text"] for r in rows], pa.string()),
            }
        ),
        path,
    )
    return rows
