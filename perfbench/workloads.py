"""What one pass of each workload runs, and how each step reaches the engine.

Every workload is a closed loop with one client: the driver runs one step
at a time, in an order drawn from the seed. Why each workload exists and
which layer it is meant to move is recorded in README.md beside this file.
"""

from __future__ import annotations

import random

# Query sets are sized so that a run (JVM start, set-up, a cold pass, 20 s
# of steady passes and the oracle check) takes about a minute on a 4-core
# host; README.md lists the queries left out and why.
ANALYTICS = (
    "q01_pricing_summary",
    "q03_join_topk",
    "q17_sessionize",
    "q98_market_share",
    "q119_min_cost_supplier",
)

CURATION_FEED = (
    "q42_cosine_dedup",
    "q173_unigram_trained",
    "q41_bpe_tokenize",
)

#: exports run after the queries of a curation_feed pass, in this order
EXPORTS = ("export:lineitem_numeric", "export:q41_per_doc")

LINEITEM_NUMERIC = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
)

#: rows per yielded batch of ``batched_tensors``
EXPORT_BATCH_ROWS = 4096

WORKLOADS = {
    "analytics": (ANALYTICS, ()),
    "curation_feed": (CURATION_FEED, EXPORTS),
}


def pass_order(workload: str, seed: int) -> list:
    """Steps of one pass: the queries in a seed-drawn order, then the exports."""
    queries, exports = WORKLOADS[workload]
    order = list(queries)
    random.Random(seed).shuffle(order)
    return order + list(exports)


def build_query(name: str, spark, sf_dir: str):
    """Build (but do not run) the Spark plan of one query step."""
    from torcharrow_spark.queries import QUERIES

    return QUERIES[name](spark, sf_dir)


def build_export(name: str, spark, sf_dir: str):
    """Build the frame an export step hands to ``batched_tensors``."""
    import torcharrow_spark as ts
    from torcharrow_spark.queries import QUERIES

    if name == "export:lineitem_numeric":
        li = ts.read_parquet(f"{sf_dir}/lineitem.parquet", spark).to_spark()
        return li.select(*LINEITEM_NUMERIC)
    if name == "export:q41_per_doc":
        return QUERIES["q41_bpe_tokenize"](spark, sf_dir)
    raise KeyError(name)
