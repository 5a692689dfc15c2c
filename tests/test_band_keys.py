"""MinHash band keys are bit-identical to the DuckDB oracle's.

A persisted near-dup index stores band-key strings, and every later
batch probes it by string equality, so the engine's keys must never
drift: the corpus path (``dedup.minhash_bands``) and the index build
(``dedup_index.build_dedup_index``) must both produce exactly the
``(doc_id, band_key)`` set of the oracle's ``bands`` CTE
(``dedup.minhash_pairs_cte``). The registry rows only check the final
verified pairs, which would hide a key format change that leaves the
candidate buckets intact.
"""

from __future__ import annotations

import os
import uuid

from postgresql_transfer_tool_spark.catalog import load_table
from postgresql_transfer_tool_spark.operators.dedup import (
    minhash_bands,
    minhash_pairs_cte,
)
from postgresql_transfer_tool_spark.operators.dedup_index import build_dedup_index
from postgresql_transfer_tool_spark.testing import duckdb_connection


def _oracle_bands(sf: str) -> set[tuple[int, str]]:
    con = duckdb_connection(sf)
    try:
        rows = con.execute(
            f"WITH {minhash_pairs_cte()} SELECT doc_id, band_key FROM bands"
        ).fetchall()
    finally:
        con.close()
    return {(int(d), k) for d, k in rows}


def _engine_bands(df) -> set[tuple[int, str]]:
    return {(r.doc_id, r.band_key) for r in df.select("doc_id", "band_key").collect()}


def test_corpus_and_index_band_keys_match_oracle(spark, sf_dir, tmp_path):
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    want = _oracle_bands(sf)
    assert want, "oracle produced no bands — vacuous comparison"
    assert _engine_bands(minhash_bands(spark, sf)) == want

    name = f"bandkeys_t{uuid.uuid4().hex[:8]}"
    index = build_dedup_index(
        spark, load_table(spark, sf, "documents"), str(tmp_path), name
    )
    try:
        assert _engine_bands(spark.table(index.bands_table)) == want
    finally:
        for t in (index.bands_table, index.shingles_table):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
