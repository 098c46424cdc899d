"""The session index cache: byte-budgeted LRU with
unpersist-on-evict and pinned index-class entries.

As-of queries key per-snapshot sidecars by seq, so a long
multi-snapshot session would otherwise accumulate persisted frames
without bound (VERDICT r9 hygiene item; the bound became bytes-based
with pinning in r15). Eviction drops STORAGE only — results never
change, the frame just recomputes."""

from nucliadb_spark import cache


def test_cache_byte_budget_lru_eviction_unpersists(spark, monkeypatch):
    cache.clear()
    cache.reset_stats()
    # deterministic sizing: every entry bills 100 bytes, budget 250 —
    # so at most two aged (probed) entries plus the newcomer survive
    monkeypatch.setattr(cache, "MAX_BYTES", 250)
    monkeypatch.setattr(cache, "_probe_size", lambda df: 100)

    frames = {}
    for i in range(5):
        frames[i] = cache.cached_df(
            "sf", f"entry{i}", lambda i=i: spark.range(i, i + 10)
        )

    held = {k[2] for k in cache._CACHE}
    assert held == {"entry2", "entry3", "entry4"}
    assert cache.EVICTIONS == 2
    # evicted frames lost their storage, survivors kept it
    assert not frames[0].storageLevel.useMemory
    assert not frames[1].storageLevel.useMemory
    assert frames[4].storageLevel.useMemory
    # an evicted frame still computes correctly (plan recomputes)
    assert frames[0].count() == 10

    # a HIT refreshes recency: touch entry2, insert a new one, and
    # entry3 (now the oldest untouched) is the eviction victim
    cache.cached_df("sf", "entry2", lambda: spark.range(2, 12))
    cache.cached_df("sf", "entry5", lambda: spark.range(5, 15))
    held = {k[2] for k in cache._CACHE}
    assert held == {"entry2", "entry4", "entry5"}

    # a hit returns the SAME persisted frame, not a rebuild
    again = cache.cached_df("sf", "entry5", lambda: spark.range(99))
    assert again.count() == 10

    cache.clear()
    assert not cache._CACHE


def test_cache_pinned_entries_survive_eviction(spark, monkeypatch):
    cache.clear()
    cache.reset_stats()
    monkeypatch.setattr(cache, "MAX_BYTES", 100)
    monkeypatch.setattr(cache, "_probe_size", lambda df: 100)

    # NB: distinct plans per entry — unpersist matches by logical
    # plan, so two entries over identical plans share storage
    live = cache.cached_df(
        "sf", "live_index", lambda: spark.range(100, 120), pinned=True
    )
    for i in range(3):
        cache.cached_df("sf", f"asof{i}", lambda i=i: spark.range(i, i + 10))

    held = {k[2] for k in cache._CACHE}
    # the pinned live index never ages out; unpinned snapshots do
    assert "live_index" in held
    assert live.storageLevel.useMemory
    assert cache.EVICTIONS >= 1
    # pinned entries do not count against the unpinned byte budget
    assert "asof2" in held  # the newcomer always survives

    # a later hit keeps (and can upgrade) pinning
    cache.cached_df(
        "sf", "live_index", lambda: spark.range(100, 120), spark=spark
    )
    key = (spark.sparkContext.applicationId, "sf", "live_index")
    assert cache._CACHE[key].pinned

    cache.clear()


def test_cache_reset_stats():
    cache.EVICTIONS = 7
    cache.reset_stats()
    assert cache.EVICTIONS == 0


def test_estimate_billed_entries_are_reprobed_once_materialized(spark, monkeypatch):
    """Inserts back to back probe the earlier entries before any job
    filled them, so they are billed at the optimizer's estimate. Once
    the entries materialize they must be billed at their actual size:
    a stale estimate would keep evicting every other unpinned entry."""
    cache.clear()
    cache.reset_stats()
    estimate, actual = 6 << 20, 1 << 20
    monkeypatch.setattr(cache, "MAX_BYTES", 16 << 20)
    monkeypatch.setattr(
        cache,
        "_probe_size",
        lambda df: actual
        if df._jdf.queryExecution().optimizedPlan().cacheBuilder().isCachedColumnBuffersLoaded()
        else estimate,
    )

    def put(name, lo):
        return cache.cached_df(
            "sf", name, lambda: spark.range(lo, lo + 10), spark=spark
        )

    # back to back: the third insert probes both hot entries before
    # any job filled them
    frames = [put("hot0", 0), put("hot1", 100), put("warm", 200)]
    assert cache.EVICTIONS == 0
    for df in frames:
        df.count()
    for i in range(6):
        put(f"entry{i}", 1000 + 100 * i).count()
        put("hot0", 0)  # hits keep the hot entries most recent
        put("hot1", 100)
    assert cache.EVICTIONS == 0
    assert all(e.size == actual for e in cache._CACHE.values() if e.size is not None)
    cache.clear()
