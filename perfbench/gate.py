"""Correctness gate, run on the outputs of every timed pass and epoch.

Each check returns a list of failure strings; an empty list is a pass. A
pass or epoch with any failure counts as a failed operation.
"""

from __future__ import annotations

import glob
import os

import duckdb

import oracle


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    return con


def _ids(con, rel: str, id_col: str) -> list[int]:
    return [r[0] for r in con.execute(f"SELECT {id_col} FROM {rel}").fetchall()]


def _rel(path: str) -> str:
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return "(SELECT NULL::BIGINT AS doc_id, NULL::BIGINT AS vec_id WHERE false)"
    listed = ", ".join(f"'{f}'" for f in files)
    return f"read_parquet([{listed}], hive_partitioning = true, union_by_name = true)"


def conservation(input_ids, kept_ids, rejected_ids) -> list[str]:
    errs = []
    kept, rej, inp = set(kept_ids), set(rejected_ids), set(input_ids)
    if len(kept) != len(kept_ids):
        errs.append(f"kept has {len(kept_ids) - len(kept)} repeated ids")
    if len(rej) != len(rejected_ids):
        errs.append(f"rejected has {len(rejected_ids) - len(rej)} repeated ids")
    if kept & rej:
        errs.append(f"{len(kept & rej)} ids both kept and rejected")
    if (kept | rej) != inp:
        errs.append(
            f"kept+rejected != input: {len(inp - kept - rej)} missing, {len(kept | rej - inp)} extra"
        )
    return errs


def check_batch(workload: str, ctx: dict, kept_dir: str, rej_dir: str) -> list[str]:
    from workloads import ID_COL, IMAGE_FILTER, TEXT_FILTERS

    id_col = ID_COL[workload]
    con = _con()
    kept_rel, rej_rel = _rel(kept_dir), _rel(rej_dir)
    kept = _ids(con, kept_rel, id_col)
    errs = conservation(ctx["input_ids"], kept, _ids(con, rej_rel, id_col))
    exp = ctx.get("expected")
    if exp and oracle.digest(kept) != exp["kept_digest"]:
        errs.append(f"kept digest differs from oracle ({len(kept)} kept vs {exp['n_kept']})")
    if workload == "text_curation":
        from webscale_multimodal_datapipeline_spark.plans import oracle_fragments as OQ

        bad = con.execute(
            f"SELECT count(*) FROM {kept_rel} WHERE NOT ({oracle.text_filter_sql(TEXT_FILTERS)})"
        ).fetchone()[0]
        if bad:
            errs.append(f"{bad} kept rows fail a filter predicate")
        n, n_norm = con.execute(
            f"SELECT count(*), count(DISTINCT {OQ.sql_norm('text')}) FROM {kept_rel}"
        ).fetchone()
        if n != n_norm:
            errs.append(f"{n - n_norm} kept rows repeat a normalized text")
    elif workload == "image_curation":
        errs += _check_images(con, kept_rel, rej_rel, ctx["truth"], IMAGE_FILTER)
    return errs


def _check_images(con, kept_rel: str, rej_rel: str, truth: str, f: dict) -> list[str]:
    """Kept images carry their true header values and pass the quality
    predicate; every quality-filter rejection fails it."""
    errs = []
    passes = (
        f"image_width >= {f['min_width']} AND image_height >= {f['min_height']}"
        f" AND image_compression_artifacts <= {f['max_compression_artifacts']}"
        f" AND image_information_entropy >= {f['min_entropy']}"
    )
    bad = con.execute(
        f"""SELECT count(*) FROM {kept_rel} k JOIN read_parquet('{truth}') t USING (doc_id)
        WHERE k.image_width <> t.width OR k.image_height <> t.height
           OR k.image_format <> t.format OR NOT ({passes})"""
    ).fetchone()[0]
    if bad:
        errs.append(f"{bad} kept images have wrong metadata or fail the quality filter")
    wrong = con.execute(
        f"""SELECT count(*) FROM {rej_rel}
        WHERE _rejection_details.operator = 'image_quality_filter' AND coalesce({passes}, false)"""
    ).fetchone()[0]
    if wrong:
        errs.append(f"{wrong} images rejected by the quality filter pass it")
    return errs


def check_cdc(files: list[str], expected: "oracle.CdcExpected") -> list[str]:
    """Table keys are unique and the table holds exactly the expected rows."""
    if not files:
        return ["table has no files"]
    con = _con()
    rel = "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"
    n, n_keys = con.execute(f"SELECT count(*), count(DISTINCT key) FROM {rel}").fetchone()
    errs = []
    if n != n_keys:
        errs.append(f"{n - n_keys} repeated keys in the table")
    ids = _ids(con, rel, "doc_id")
    want = expected.summary()
    if len(ids) != want["n_kept"] or oracle.digest(ids) != want["kept_digest"]:
        errs.append(f"table ids differ from expected ({len(ids)} rows vs {want['n_kept']})")
    return errs
