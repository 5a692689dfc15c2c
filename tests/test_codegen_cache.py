"""Each generated class is compiled once per session.

The engine sizes Spark's generated-class cache to its working set
(``session.tuning_conf``). With the default 100 entries, one memo-cold
pass over a few curation rows evicts most of its own classes, so the
same pass run again recompiles almost all of them. Here the second
memo-cold pass must compile at most 5% of what the first one did.
"""

from __future__ import annotations

from postgresql_transfer_tool_spark.functions.memo import clear_all_memos
from postgresql_transfer_tool_spark.operators import registry
from postgresql_transfer_tool_spark.session import codegen_compiles

registry.load_all()

ROWS = [
    "dedup_minhash_lsh",
    "dedup_survivors_by_quality",
    "bm25_ranked_retrieval",
    "ann_ivf_topk",
]


def _memo_cold_pass(spark, sf_dir) -> int:
    c0 = codegen_compiles(spark)
    for name in ROWS:
        clear_all_memos()
        registry.QUERIES[name](spark, sf_dir).collect()
    return codegen_compiles(spark) - c0


def test_second_memo_cold_pass_compiles_almost_nothing(spark, sf_dir):
    first = _memo_cold_pass(spark, sf_dir)
    second = _memo_cold_pass(spark, sf_dir)
    assert second <= 0.05 * first, (
        f"second memo-cold pass compiled {second} classes, first {first}"
    )
