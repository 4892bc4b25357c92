"""Tests of the benchmark itself (no Spark): ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gate  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from workloads import TEXT_FILTERS  # noqa: E402


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            h.update(n.encode())
            with open(os.path.join(root, n), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _write_all(seed: int, out: str) -> None:
    gen.write_text(seed, 300, f"{out}/text")
    gen.write_embeddings(seed, 300, f"{out}/emb")
    gen.write_images(seed, 200, f"{out}/img", f"{out}/truth.parquet")
    for e in range(3):
        gen.write_cdc_epoch(seed, e, 200, f"{out}/epoch-{e}.parquet")


def test_generators_are_deterministic_per_seed(tmp_path):
    for d in ("a", "b", "c"):
        _write_all(7 if d != "c" else 8, str(tmp_path / d))
    a, b, c = (_tree_digest(str(tmp_path / d)) for d in ("a", "b", "c"))
    assert a == b
    assert a != c


def test_cdc_epoch_repeats_earlier_docs():
    seen = {oracle.norm(r["text"]) for r in gen.cdc_epoch(3, 0, 400)}
    later = gen.cdc_epoch(3, 1, 400)
    repeats = sum(oracle.norm(r["text"]) in seen for r in later)
    assert 0.05 * len(later) < repeats < 0.5 * len(later)
    assert len({r["doc_id"] for r in later}) == len(later)


@pytest.fixture(scope="module")
def text_case(tmp_path_factory):
    """A correct text_curation output, built from the oracle's kept ids."""
    root = tmp_path_factory.mktemp("text")
    gen.write_text(11, 400, str(root / "input"))
    table = pq.read_table(str(root / "input"))
    kept_ids, _ = oracle.text_kept_ids(str(root / "input" / "*.parquet"), TEXT_FILTERS)
    ctx = {
        "input_ids": table.column("doc_id").to_pylist(),
        "expected": {"n_kept": len(kept_ids), "kept_digest": oracle.digest(kept_ids)},
    }
    mask = pa.array([i in set(kept_ids) for i in ctx["input_ids"]])
    return root, table.filter(mask), table.filter(pa.compute.invert(mask)), ctx


def _check_text(root, kept: pa.Table, rejected: pa.Table, ctx) -> list[str]:
    for name, t in (("kept", kept), ("rejected", rejected)):
        os.makedirs(root / name, exist_ok=True)
        pq.write_table(t, str(root / name / "part-0.parquet"))
    return gate.check_batch("text_curation", ctx, str(root / "kept"), str(root / "rejected"))


def test_gate_passes_correct_text_output(text_case):
    root, kept, rejected, ctx = text_case
    assert _check_text(root, kept, rejected, ctx) == []


def test_gate_rejects_one_dropped_kept_row(text_case):
    root, kept, rejected, ctx = text_case
    errs = _check_text(root, kept.slice(1), rejected, ctx)
    assert any("missing" in e for e in errs)
    assert any("digest" in e for e in errs)


def test_gate_rejects_one_duplicated_kept_text(text_case):
    root, kept, rejected, ctx = text_case
    twin = kept.slice(0, 1).set_column(0, "doc_id", pa.array([-1], pa.int64()))
    errs = _check_text(root, pa.concat_tables([kept, twin]), rejected, dict(
        ctx, input_ids=ctx["input_ids"] + [-1]))
    assert any("repeat a normalized text" in e for e in errs)


def test_gate_rejects_one_duplicated_cdc_key(tmp_path):
    expected = oracle.CdcExpected()
    rows = gen.cdc_epoch(5, 0, 100)
    expected.add_epoch(rows)
    ids = sorted(expected.table.items())
    good = pa.table({"doc_id": [i for _, i in ids], "key": [k for k, _ in ids]})
    path = str(tmp_path / "t.parquet")
    pq.write_table(good, path)
    assert gate.check_cdc([path], expected) == []
    bad = pa.concat_tables([good, good.slice(0, 1)])
    pq.write_table(bad, path)
    errs = gate.check_cdc([path], expected)
    assert any("repeated keys" in e for e in errs)
