"""Capture the PER-ITERATION physical plans of the iterative graph
operators — the plans an end-of-query ``explain`` cannot show because
every round ends in a localCheckpoint that truncates lineage.

Hooks ``DataFrame.localCheckpoint`` to dump each checkpointed frame's
plan (the round's full plan, formed immediately before the pin) while
the REAL operator runs on a small graph, forced onto the shuffled
(above-the-broadcast-bound) path with the edge layout. Plan SHAPE is
size-independent here: ``graph.BROADCAST_MAX_NODES`` is set to 0, not a
size estimate, and the session turns the planner's automatic broadcast
off.

    python tools/capture_iter_plans.py <pagerank|bfs_hops|shortest_paths|components>

Writes plans/$SPARK_GRAFT_PLANS_DIR/<op>_iter.txt (default directory
r14; an absolute path is used as given; all rounds concatenated).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as CDF

from blueetl_spark.operators import graph
from blueetl_spark.session import get_spark


def main() -> int:
    op = sys.argv[1]
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_DIR", "r14"),
    )
    os.makedirs(out_dir, exist_ok=True)
    # No automatic broadcast: the planner would otherwise broadcast the
    # cached edge side whenever its in-memory statistics fall under
    # autoBroadcastJoinThreshold, which is not the shape a 100 TB graph
    # runs (there the edge side never fits). With it off, the captured
    # shape does not depend on CAPTURE_EDGES.
    spark = get_spark(
        app_name=f"capture_iter_{op}",
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )

    dumps: list[str] = []
    orig = CDF.localCheckpoint

    def hooked(self, eager=True):
        m = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        dumps.append(self._jdf.queryExecution().explainString(m))
        return orig(self, eager)

    n_edges = int(os.environ.get("CAPTURE_EDGES", 2_000_000))
    n_nodes = max(800, n_edges // 10)
    e = spark.range(n_edges).select(
        F.pmod(F.col("id"), F.lit(n_nodes)).alias("src"),
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("dst"),
    )
    CDF.localCheckpoint = hooked
    graph.BROADCAST_MAX_NODES = 0
    try:
        if op == "pagerank":
            graph.pagerank(
                e, max_iter=3, tol=0.0
            ).write.format("noop").mode("overwrite").save()
        elif op == "bfs_hops":
            graph.bfs_hops(
                e, spark.range(10), max_hops=3
            ).write.format("noop").mode("overwrite").save()
        elif op == "shortest_paths":
            graph.shortest_paths(
                e.withColumn("weight", F.lit(1.0)), spark.range(10), rounds=3,
            ).write.format("noop").mode("overwrite").save()
        elif op == "components":
            from blueetl_spark.operators.dedup import connected_components

            connected_components(
                e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
                .filter("a != b"),
                "a", "b", max_driver_edges=0,
            ).write.format("noop").mode("overwrite").save()
        else:
            raise SystemExit(f"unknown op {op}")
    finally:
        CDF.localCheckpoint = orig

    path = os.path.join(out_dir, f"{op}_iter.txt")
    with open(path, "w") as fh:
        for i, d in enumerate(dumps):
            fh.write(f"=== checkpointed frame {i} ===\n{d}\n")
    # quick shape summary to stderr
    import re

    for i, d in enumerate(dumps):
        ex = len(re.findall(r"\bExchange\b", d))
        so = len(re.findall(r"\(\d+\) Sort\b", d))
        smj = len(re.findall(r"SortMergeJoin", d))
        bhj = len(re.findall(r"BroadcastHashJoin", d))
        imts = len(re.findall(r"InMemoryTableScan", d))
        print(
            f"# frame {i}: Exchange={ex} Sort={so} SMJ={smj} BHJ={bhj} "
            f"InMemoryTableScan={imts}",
            file=sys.stderr,
        )
    print(path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
