"""Workloads: input sizes, pipeline configs and input generation.

BENCHMARK.json lists image_curation and cdc_dedup. text_curation and
semantic_dedup run the same way (``--workload text_curation``) but are not
in that list: on a shared 4-vCPU host one run of either takes one and a half
to two and a half minutes, and 22 runs of every listed workload have to
finish within 57 minutes.

Sizes are small for the same reason: a pass is dominated by per-job and
per-plan overheads either way, and one run, set-up included, stays under a
minute.
"""

from __future__ import annotations

import os

import yaml

TEXT_DOCS = 1000
EMBEDDINGS = 4000
IMAGES = 2000
CDC_EPOCH_DOCS = 4000
CDC_COMPACT_EVERY = 5
CDC_WARMUP_EPOCHS = 3
CDC_MIN_EPOCHS = 5
# Sessions per untraced run, each a fresh process measuring half the run:
# setup_s and first_pass_s are medians over them and the warm metrics pool
# their warm passes. On a shared 4-vCPU host one session's figures can be a
# fifth off, so a slow stretch of the host should weigh on half the samples
# of a run, not on all of them.
SESSIONS = 2

TEXT_FILTERS = {
    "min_length": 200,
    "max_length": 1500,
    "blocklist": ["src7"],
    "quality_sources": ["src3"],
    "score_threshold": 0.5,
}
IMAGE_FILTER = {
    "min_width": 64,
    "min_height": 64,
    "max_compression_artifacts": 1.0,
    "min_entropy": 1.0,
}
# The blocklist entry of examples/image_pipeline.yaml.
IMAGE_BLOCKLIST = ["0123456789abcdef0123456789abcdef"]

WORKLOADS = ("text_curation", "semantic_dedup", "image_curation", "cdc_dedup")
ID_COL = {"text_curation": "doc_id", "semantic_dedup": "vec_id", "image_curation": "doc_id"}


def pipeline_yaml(workload: str, input_dir: str) -> str:
    loader = {"path": input_dir}
    if workload == "text_curation":
        f = TEXT_FILTERS
        stages = [
            {
                "name": "curate",
                "operators": [
                    {"type": "text_length_filter",
                     "params": {"min_length": f["min_length"], "max_length": f["max_length"]}},
                    {"type": "url_filter",
                     "params": {"blocklist": f["blocklist"], "quality_sources": f["quality_sources"],
                                "score_threshold": f["score_threshold"]}},
                    {"type": "gopher_quality_filter"},
                    {"type": "quality_classifier_refiner"},
                ],
            },
            {
                "name": "dedup",
                "operators": [
                    {"type": "text_exact_dedup"},
                    {"type": "minhash_lsh_dedup", "params": {"jaccard_threshold": 0.7}},
                ],
            },
        ]
    elif workload == "semantic_dedup":
        stages = [
            {
                "name": "semantic_neardup",
                "operators": [
                    {"type": "embedding_norm_refiner"},
                    # threshold of the repo's cosine-dedup oracle; `center`
                    # stays at its default (auto) so the cone gate decides
                    {"type": "embedding_cosine_dedup",
                     "params": {"emb_col": "embedding", "id_col": "vec_id", "dim": 64,
                                "threshold": 0.9}},
                ],
            }
        ]
    elif workload == "image_curation":
        stages = [
            {"name": "decode", "operators": [
                {"type": "image_metadata_refiner"}, {"type": "technical_quality_refiner"}]},
            {"name": "safety", "operators": [
                {"type": "phash_blocklist_filter", "params": {"hashes": IMAGE_BLOCKLIST}}]},
            {"name": "filter", "operators": [
                {"type": "image_quality_filter", "params": IMAGE_FILTER}]},
            {"name": "transform", "operators": [
                {"type": "jpeg_scrub_refiner"}, {"type": "image_resize_refiner"}]},
        ]
    else:
        raise ValueError(f"{workload} is not a YAML pipeline")
    cfg = {"data_loader": loader, "stages": stages, "collect_rejected": True}
    return yaml.safe_dump(cfg, sort_keys=False)


def generate(workload: str, seed: int, work: str) -> dict:
    """Write the workload's inputs under ``work``; return what the pass needs."""
    import gen

    input_dir = os.path.join(work, "input")
    if workload == "text_curation":
        n = gen.write_text(seed, TEXT_DOCS, input_dir)
    elif workload == "semantic_dedup":
        n = gen.write_embeddings(seed, EMBEDDINGS, input_dir)
    elif workload == "image_curation":
        truth = os.path.join(work, "truth.parquet")
        n = gen.write_images(seed, IMAGES, input_dir, truth)
        ctx = {"input_dir": input_dir, "n_input": n, "truth": truth}
        return dict(ctx, yaml=pipeline_yaml(workload, input_dir))
    else:
        os.makedirs(input_dir, exist_ok=True)
        return {"input_dir": input_dir, "n_input": CDC_EPOCH_DOCS}
    return {"input_dir": input_dir, "n_input": n, "yaml": pipeline_yaml(workload, input_dir)}
