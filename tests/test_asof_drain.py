"""As-of snapshot sidecars over a STREAM-maintained serving log.

Every drain into the serving log (serving.stream_maintained_log) makes
Spark drop the cached buffers of each persisted plan that reads the
log path. So no cached as-of sidecar may have the log in its lineage:
a drain must leave earlier snapshots' sidecars materialized, each new
snapshot must chain from the previous one at the same cost round
after round, and a purge of folded log partitions must not break a
later read. Each test streams the content log of its own corpus copy
(the substrate's state is session-global per corpus directory).
"""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from nucliadb_spark import api, cache, serving
from nucliadb_spark.sources import tpch
from nucliadb_spark.streaming import ingest

LOG = "content_text"
# tranche r occupies seqs from TRANCHE_BASE + r * SEQ_BUCKET_WIDTH: one
# log partition per tranche, above every seq of the corpus's own log
TRANCHE_BASE = 3_000_000


class StreamedCorpus:
    """A corpus copy whose content log is fed through the streaming
    sink: the whole derived op log as the first arrival, then one
    tranche of marked upserts per round."""

    def __init__(self, spark, root: str, sf_dir: str):
        self.spark = spark
        self.dir = os.path.join(root, "sf")
        os.makedirs(self.dir)
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(sf_dir, f), self.dir)
        self.arrivals = os.path.join(root, "arrivals")
        self.ckpt = os.path.join(root, "ckpt")
        log = ingest.cdc_log(tpch.fields(spark, self.dir))
        log.write.parquet(self.arrivals)
        self.schema = spark.read.parquet(self.arrivals).schema
        self.head = int(log.agg(F.max("seq")).first()[0])
        self.rids = sorted(
            r.rid for r in tpch.fields(spark, self.dir).select("rid").collect()
        )
        self.prev: list[int] = []
        self.drain()

    def drain(self) -> None:
        serving.stream_maintained_log(
            self.spark, self.dir, LOG, self.arrivals, self.ckpt
        )

    def append(self, round_no: int) -> list[int]:
        """Stream tranche ``round_no``: 6 upserts carrying the round's
        marker, then deletes of the previous round's upserts. Returns
        the upserted rids."""
        ups = self.rids[round_no * 7 : round_no * 7 + 6]
        seq0 = TRANCHE_BASE + round_no * serving.SEQ_BUCKET_WIDTH
        ops = [(r, "upsert", f"{marker(round_no)} stream tranche") for r in ups]
        ops += [(r, "delete", None) for r in self.prev]
        rows = [
            (rid, seq0 + i, op, text, None)
            for i, (rid, op, text) in enumerate(ops)
        ]
        self.spark.createDataFrame(rows, self.schema).write.mode(
            "append"
        ).parquet(self.arrivals)
        self.drain()
        self.head = seq0 + len(rows) - 1
        self.prev = ups
        return ups

    def read(self, round_no: int) -> list[int]:
        """The as-of keyword read at the head for the round's marker."""
        req = api.FindRequest(
            query=marker(round_no), features=["keyword"], top_k=20,
            as_of=self.head,
        )
        return sorted(r.id for r in api.find_request(
            self.spark, self.dir, req
        ).collect())

    def vacuum(self) -> None:
        serving.vacuum_family(
            self.spark, self.dir, LOG, None, ingest.cdc_live_fields,
            ("rid",), self.head,
        )


def marker(round_no: int) -> str:
    return f"tranchemark{round_no}"


@pytest.fixture
def corpus(spark, sf_dir, tmp_path):
    c = StreamedCorpus(spark, str(tmp_path), sf_dir)
    # the first snapshot at the log head, built from scratch
    assert c.read(0) == []
    return c


def _jobs(spark, fn, group: str):
    """(result, number of Spark jobs ``fn`` ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _asof_sidecars(spark, sf_dir: str) -> dict:
    app = spark.sparkContext.applicationId
    return {
        n: e.df
        for (a, s, n), e in cache._CACHE.items()
        if a == app and s == sf_dir and n.startswith("asof")
    }


def _materialized(spark, df) -> bool:
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        df._jdf
    )
    return cached.isDefined() and (
        cached.get().cachedRepresentation().cacheBuilder()
        .isCachedColumnBuffersLoaded()
    )


def _scanned_roots(df) -> list[str]:
    """Root paths of every file relation in the analyzed plan — the
    lineage a recompute of the frame would read."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        paths = leaf.relation().location().rootPaths()
        roots += [paths.apply(j).toUri().getPath() for j in range(paths.size())]
    return roots


def test_drain_keeps_asof_sidecars_materialized(spark, corpus):
    """A drain must not un-cache any as-of sidecar: none reads the
    serving log, so each chained read does the same work as the one
    before it instead of rebuilding the chain to the first snapshot."""
    c = corpus
    ups1 = c.append(1)
    got1, jobs1 = _jobs(spark, lambda: c.read(1), "asof_drain_r1")
    assert got1 == ups1

    ups2 = c.append(2)  # the drain under test
    sidecars = _asof_sidecars(spark, c.dir)
    text = {n for n in sidecars if re.fullmatch(r"asof\d+_text_(post|stats)", n)}
    # the first snapshot's and the chained round-1 snapshot's sidecars
    assert len(text) == 4, sorted(sidecars)
    assert {n for n in text if not _materialized(spark, sidecars[n])} == set()
    log_dir = os.path.join(
        serving._LOG_DIRS[serving._key(spark, c.dir, LOG)], "log"
    )
    reads_log = {
        n for n, df in sidecars.items()
        if any(r.startswith(log_dir) for r in _scanned_roots(df))
    }
    assert reads_log == set()

    got2, jobs2 = _jobs(spark, lambda: c.read(2), "asof_drain_r2")
    assert got2 == ups2
    assert jobs2 <= jobs1, (jobs1, jobs2)


def test_read_after_purge_serves_the_new_tranche(spark, corpus):
    """chained reads → vacuum → purge → drain: the chained read at the
    new head must return exactly the new tranche's upserts. Its chain
    start was advanced from a log partition the purge deleted (round
    1's), so it must not be recomputed from the log."""
    c = corpus
    for r in (1, 2):
        ups = c.append(r)
        assert c.read(r) == ups
    c.vacuum()
    log_dir = os.path.join(
        serving._LOG_DIRS[serving._key(spark, c.dir, LOG)], "log"
    )
    round1 = f"seq_bucket={TRANCHE_BASE // serving.SEQ_BUCKET_WIDTH + 1}"
    assert round1 in os.listdir(log_dir)
    assert serving.purge_log(spark, c.dir, LOG, c.head) > 0
    assert round1 not in os.listdir(log_dir)
    ups3 = c.append(3)
    assert c.read(3) == ups3
