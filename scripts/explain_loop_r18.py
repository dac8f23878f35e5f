#!/usr/bin/env python
"""Dump the LOOP-BODY physical plans of the iterative operators
(round 18, VERDICT r17 #2): the r17 before/after dumps for
supplier_pagerank / minhash_clusters were post-localCheckpoint
ExistingRDD stubs, so the batch-1 "2 exchanges per round" claim was
not plan-verifiable. This script builds ONE round's DataFrame exactly
as the operators do (same private helpers the loops call), and writes
the formatted plans to plans/r18/.

The upstream PAIR/EDGE relations enter as localCheckpoint leaves
(explain() of the real pipeline would print hundreds of upstream
Exchange lines that never execute per round), but the loop-invariant
caches themselves (degree-annotated edges / closed-neighborhood
relation / round labels) are built EXACTLY as the operators build
them — .repartition(key)+cache — so the InMemoryTableScan's preserved
hash partitioning, and hence the join-side exchange elision each
round relies on, is visible in the dumped plan.

Usage: python scripts/explain_loop_r18.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hhek2sqlite_spark.operators import dedup, graph  # noqa: E402
from hhek2sqlite_spark.operators.util import release_local_checkpoints  # noqa: E402
from hhek2sqlite_spark.session import get_spark  # noqa: E402
from hhek2sqlite_spark.sources.parquet import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r18"
)


def _dump(df, name: str) -> None:
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    with open(os.path.join(OUT_DIR, name), "w") as fh:
        fh.write(plan)
    n_ex = plan.count("Exchange")
    print(f"{name}: {len(plan.splitlines())} lines, 'Exchange' refs: {n_ex}")


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("r18-explain-loop")
    spark.sparkContext.setLogLevel("ERROR")

    # --- pagerank round (the supplier_pagerank registry recipe) ---------
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    edges = graph.cooccurrence_edges(li, group_col="l_orderkey", item_col="l_suppkey")
    base = ((100 - 85) * graph.RANK_SCALE) // 100
    # upstream edges as a leaf; the loop-invariant cache built exactly
    # as pagerank builds it (repartition + window + persist), and the
    # previous round's ranks LAZY over the cache, as in the real loop
    edges_leaf = edges.localCheckpoint()
    ed = graph._degree_edges(edges_leaf, "src", "dst").persist()
    ed.count()  # materialize, as the loop's first action does
    ranks1 = graph._rank_agg(
        ed.select(
            F.col("e_dst").alias("node"),
            F.expr(f"{graph.RANK_SCALE}L div out_deg").alias("c"),
        ),
        base, 85, 100,
    )
    _dump(graph._rank_round(ed, ranks1, base, 85, 100),
          "supplier_pagerank_loopbody.txt")
    ed.unpersist()

    # --- label-propagation round (the minhash_clusters recipe) ----------
    pairs = dedup.minhash_lsh_pairs(load_table(spark, SF_DIR, "documents"))
    pairs_leaf = pairs.select("id_a", "id_b").localCheckpoint()
    release_local_checkpoints(pairs)
    edges2, symp, labels = dedup._closed_neighborhood(pairs_leaf)
    labels.count()  # materializes the symp + labels caches, as the loop does
    _dump(dedup._lp_round(symp, labels), "minhash_clusters_loopbody.txt")
    edges2.unpersist()
    symp.unpersist()
    labels.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
