"""Expected outputs, computed once per seed outside every timed region.

The text and semantic workloads run the repo's own DuckDB oracle SQL over
the generated input: the filter predicates from ``plans/oracle_fragments.py``,
``D_MINHASH_DEDUP_SQL`` for MinHash-LSH dedup and ``V_COSINE_DEDUP_SQL`` for
cosine dedup. The CDC workload has no oracle SQL in the repo; its expected
table follows from exact-dedup semantics (first epoch wins, min id within
an epoch), computed here in Python.
"""

from __future__ import annotations

import hashlib
import re

import duckdb


def digest(ids) -> str:
    """Order-free digest of a set of integer ids."""
    h = hashlib.sha256()
    for i in sorted(int(x) for x in ids):
        h.update(i.to_bytes(8, "little", signed=True))
    return h.hexdigest()[:16]


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    return con


def text_filter_sql(p: dict) -> str:
    """The text chain's filter predicates as one DuckDB boolean."""
    from webscale_multimodal_datapipeline_spark.plans import oracle_fragments as OQ

    gopher = " AND ".join(OQ.sql_gopher_flags("text").values())
    src = lambda xs: "(" + ", ".join(f"'{x}'" for x in xs) + ")"
    return (
        f"coalesce(n_chars, length(text), 0) BETWEEN {p['min_length']} AND {p['max_length']}"
        f" AND ((source NOT IN {src(p['blocklist'])} AND source NOT IN {src(p['quality_sources'])}"
        f" AND NOT ({OQ.sql_word_score('text')} >= {p['score_threshold']})) OR source IS NULL)"
        f" AND {gopher}"
    )


def text_expected(input_glob: str, p: dict) -> dict:
    kept, n = text_kept_ids(input_glob, p)
    return {"n_input": n, "n_kept": len(kept), "kept_digest": digest(kept)}


def text_kept_ids(input_glob: str, p: dict) -> tuple[list[int], int]:
    """filters -> exact dedup on normalized text (min id) -> MinHash-LSH."""
    from webscale_multimodal_datapipeline_spark.plans import oracle_fragments as OQ
    from webscale_multimodal_datapipeline_spark.plans.dedup_queries import (
        D_MINHASH_DEDUP_SQL,
    )

    con = _con()
    con.execute(
        f"""CREATE TABLE documents AS
        SELECT doc_id, text, source FROM (
          SELECT *, row_number() OVER (PARTITION BY {OQ.sql_norm('text')} ORDER BY doc_id) AS rn
          FROM read_parquet('{input_glob}') WHERE {text_filter_sql(p)}
        ) WHERE rn = 1"""
    )
    kept = [r[0] for r in con.execute(D_MINHASH_DEDUP_SQL).fetchall()]
    n = con.execute(f"SELECT count(*) FROM read_parquet('{input_glob}')").fetchone()[0]
    return kept, int(n)


def semantic_expected(input_glob: str) -> dict:
    from webscale_multimodal_datapipeline_spark.plans.vector_queries import (
        V_COSINE_DEDUP_SQL,
    )

    con = _con()
    con.execute(f"CREATE TABLE embeddings AS SELECT * FROM read_parquet('{input_glob}')")
    kept = [r[0] for r in con.execute(V_COSINE_DEDUP_SQL).fetchall()]
    n = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    return {"n_input": int(n), "n_kept": len(kept), "kept_digest": digest(kept)}


_WS = re.compile(r"\s+")


def norm(text: str) -> str:
    """Python mirror of ``normalize_text`` for ASCII text."""
    return _WS.sub(" ", text).strip().lower()


class CdcExpected:
    """Running expectation of the CDC table: key -> surviving doc id."""

    def __init__(self):
        self.table: dict[str, int] = {}

    def add_epoch(self, rows: list[dict]) -> None:
        new: dict[str, int] = {}
        for r in rows:
            k = norm(r["text"])
            if k in self.table:
                continue
            if k not in new or r["doc_id"] < new[k]:
                new[k] = r["doc_id"]
        self.table.update(new)

    def summary(self) -> dict:
        return {"n_kept": len(self.table), "kept_digest": digest(self.table.values())}
