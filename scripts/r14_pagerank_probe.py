"""r14 optimization: isolate the graph_pagerank regression.

The r14 batch replaced the per-iteration eager localCheckpoint with
one linear 3-iteration plan; the after-profile read 5.4 -> 60.9 s
wall (summed task run 83 -> 428 s), i.e. real recompute. A/B the
iteration-loop shapes, ONE MODE PER PROCESS (a shared session
contaminates timings via leftover checkpoint blocks / GC state):

  linear : one linear 3-iteration plan (current HEAD)
  eager  : localCheckpoint(eager=True) per iteration, cached adjacency
  lazy   : localCheckpoint(eager=False) per iteration, cached adjacency
  r13    : the exact r13 shape (own persist of e/nodes/out, crossJoin
           broadcast N, eager checkpoints) - the 5.4 s reference

Usage: python scripts/r14_pagerank_probe.py <mode>
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from pyspark.sql import functions as F  # noqa: E402

from nucliadb_spark.session import get_session  # noqa: E402
from nucliadb_spark.cache import cached_df, cached_value  # noqa: E402
from nucliadb_spark.operators.iterative import graph_adjacency  # noqa: E402
from nucliadb_spark.sources import tpch  # noqa: E402


def loop(nodes, e, out, n_nodes, mode: str):
    n = F.lit(float(n_nodes))
    pr = nodes.select("node", (F.lit(1.0) / n).alias("pr"))
    if mode == "eager":
        pr = pr.localCheckpoint(eager=True)
    elif mode == "lazy":
        pr = pr.localCheckpoint(eager=False)
    for i in range(3):
        t0 = time.perf_counter()
        contrib = (
            e.join(out, "a")
            .join(pr, F.col("a") == F.col("node"))
            .groupBy(F.col("b").alias("tnode"))
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("m"))
        )
        pr = nodes.join(contrib, F.col("node") == F.col("tnode"), "left").select(
            "node",
            F.round(
                (F.lit(1.0) - F.lit(0.85)) / n + 0.85 * F.coalesce("m", F.lit(0.0)),
                9,
            ).alias("pr"),
        )
        if mode == "eager":
            pr = pr.localCheckpoint(eager=True)
        elif mode == "lazy":
            pr = pr.localCheckpoint(eager=False)
        print(f"  iter{i}: {time.perf_counter()-t0:.2f}s", flush=True)
    return pr.select(
        "node", F.round("pr", 5).cast("double").alias("pagerank")
    ).orderBy(F.desc("pagerank"), "node").limit(20)


def r13_pagerank(spark, rel):
    e = (
        rel.select(F.col("source_value").alias("a"), F.col("target_value").alias("b"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .persist()
    )
    out = e.groupBy("a").agg(F.count("*").cast("double").alias("deg")).persist()
    n1 = nodes.agg(F.count("*").cast("double").alias("_n"))
    pr = nodes.crossJoin(F.broadcast(n1)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("pr")
    ).localCheckpoint(eager=True)
    for i in range(3):
        t0 = time.perf_counter()
        contrib = (
            e.join(out, "a")
            .join(pr, F.col("a") == F.col("node"))
            .groupBy(F.col("b").alias("tnode"))
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("m"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(n1))
            .join(contrib, F.col("node") == F.col("tnode"), "left")
            .select(
                "node",
                F.round(
                    (1.0 - 0.85) / F.col("_n") + 0.85 * F.coalesce("m", F.lit(0.0)),
                    9,
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
        print(f"  iter{i}: {time.perf_counter()-t0:.2f}s", flush=True)
    res = pr.select(
        "node", F.round("pr", 5).cast("double").alias("pagerank")
    ).orderBy(F.desc("pagerank"), "node").limit(20)
    return res, (e, nodes, out)


def main() -> None:
    mode = sys.argv[1]
    print("mode", mode, "loadavg", os.getloadavg())
    spark = get_session("pagerank_probe")
    rel = tpch.relations_index(spark, SF_DIR)

    times = []
    if mode == "r13":
        for run in range(3):
            t0 = time.perf_counter()
            res, frames_ = r13_pagerank(spark, rel)
            rows = res.collect()
            times.append(round(time.perf_counter() - t0, 2))
            for fr in frames_:
                fr.unpersist()
            print(f"run{run}: {times[-1]}s", flush=True)
    else:
        e = cached_df(SF_DIR, "graph_edges", lambda: graph_adjacency(rel)[0], spark=spark)
        nodes = cached_df(
            SF_DIR,
            "graph_nodes",
            lambda: e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .distinct(),
            spark=spark,
        )
        out = cached_df(
            SF_DIR,
            "graph_outdeg",
            lambda: e.groupBy("a").agg(F.count("*").cast("double").alias("deg")),
            spark=spark,
        )
        n = cached_value(spark, SF_DIR, "graph_n_nodes", lambda: nodes.count())
        print("edges", e.count(), "nodes", n, flush=True)
        for run in range(3):
            t0 = time.perf_counter()
            rows = loop(nodes, e, out, n, mode).collect()
            times.append(round(time.perf_counter() - t0, 2))
            print(f"run{run}: {times[-1]}s", flush=True)
    print("RESULT", mode, times, rows[:3])
    spark.stop()


if __name__ == "__main__":
    main()
