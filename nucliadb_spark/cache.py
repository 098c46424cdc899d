"""Session-scoped index cache.

A search engine doesn't re-tokenize its corpus per query: tantivy
serves from built segments (SURVEY §2.1 S3). The batch analog is a
cached/persisted derived table per (corpus, index) pair. Queries go
through `cached_df`, so the first query of a session builds and
persists (MEMORY_AND_DISK — spills cleanly), and every later query
reuses the materialized index. On a real cluster these would be
parquet tables written by `bm25.build_index` / `ann.build_ivf` and
read back with bucketing; the in-session cache gives the same
plan shape without filesystem management in the test harness.

Correctness is unaffected: the cache stores exactly the DataFrame the
builder returns, keyed by (sf_dir, name).

The cache is a bounded LRU. The bound is expressed in BYTES (r15 —
the r14 entry-count bound of 512 was sized to one workload's tour;
a byte budget is the policy that transfers to any tenant mix): each
entry's size is probed once from the optimizer's statistics after it
has had a chance to materialize, and when the known total exceeds
``MAX_BYTES`` the least-recently-used unpinned entries are evicted.
Eviction unpersists the entry — dropping storage only; any plan still
holding the frame recomputes it lazily, so eviction can never change
results. Hot shared index artifacts (the live text index, centroids,
the relations index — built once per session, read by every request)
are inserted with ``pinned=True`` and never evicted; the unbounded
families (per-snapshot as-of sidecars keyed by seq) are unpinned and
age out. Single-threaded by design: Spark driver-side query
construction in this engine happens on one thread; the counters are
plain ints.

Two memos sit next to the sidecar cache, both per Spark application:

- **The plan memo** (:func:`memo_plan`, LRU of ``PLAN_MAX`` = 256
  entries) holds BUILT plan handles of ``api.find_request`` and
  ``operators.find.find``, keyed by the request's VALUE: dataclasses
  as (type, fields), dicts regardless of insertion order, lists as
  tuples, DataFrame arguments by identity (the entry holds them).
  Building a flagship request costs 50-200 ms of driver work; a
  repeat pays a key walk of microseconds. It never stores results:
  every collect() re-executes. A request holding any other object
  builds fresh. ``serving.vacuum_family`` and ``serving.purge_log``
  drop every plan entry, so a repeated request rebuilds and meets
  ``serving.check_horizon`` like a fresh one — a memoized plan must
  never answer a snapshot the vacuum discarded.
- **The session memo** (:func:`cached_value`, unbounded) holds
  immutable per-application values: table reader frames (each
  ``spark.read.parquet`` re-lists the table and re-reads footers as
  a job at construction time), parquet schemas, index statistics and
  scratch directories. The names form a small fixed set.
"""

from __future__ import annotations

import dataclasses
import datetime
import os
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Byte budget for UNPINNED entries (the snapshot-keyed families).
# Default 8 GiB: the full 275-query registry tour's sidecars sum to
# well under 1 GiB at bench scale, so the tour never evicts (the r14
# thrash signal stays fixed), while a long-lived multi-tenant session
# touring thousands of snapshots is bounded by storage, not entry
# count. MEMORY_AND_DISK entries spill, so the budget bounds footprint
# rather than guarding the heap.
MAX_BYTES = int(os.environ.get("NUCLIADB_SPARK_CACHE_MAX_BYTES", str(8 << 30)))

# Size probes read the optimizer's statistics. Before an entry is
# materialized those statistics are the child-plan ESTIMATE, which for
# an un-analyzed derived frame can be absurd; anything above the clamp
# is treated as "unknown" and billed at the default. A mis-billed
# entry costs at worst an unnecessary eviction (storage-only drop).
_SIZE_CLAMP = 1 << 40  # 1 TiB
_SIZE_DEFAULT = 1 << 20  # 1 MiB


class _Entry:
    __slots__ = ("df", "pinned", "size", "final", "born")

    def __init__(self, df: DataFrame, pinned: bool, born: int):
        self.df = df
        self.pinned = pinned
        self.size: int | None = None  # probed lazily
        self.final = False  # size read from the materialized buffers
        self.born = born


_CACHE: OrderedDict[tuple[str, str, str], _Entry] = OrderedDict()
_INSERTS = 0

# observability: evictions in a session with a right-sized budget
# should be ~0; a growing count is the thrash signal the r14 profile
# caught (scripts/r14_profile.py prints it after a sweep)
EVICTIONS = 0


def reset_stats() -> None:
    """Zero the observability counters (sweep-scoped profiling)."""
    global EVICTIONS
    EVICTIONS = 0


def _probe_size(df: DataFrame) -> int:
    """Entry size in bytes from the optimized plan's statistics —
    actual cached bytes once the InMemoryRelation materialized, the
    child estimate before that (clamped to the default when absurd).
    The plan memoizes its statistics, so they are dropped first: a
    re-probe after materialization must not read the old estimate."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        plan.invalidateStatsCache()
        raw = int(str(plan.stats().sizeInBytes()))
    except Exception:  # noqa: BLE001
        return _SIZE_DEFAULT
    if raw <= 0 or raw > _SIZE_CLAMP:
        return _SIZE_DEFAULT
    return raw


def _materialized(df: DataFrame) -> bool:
    """True once every partition of the entry's cached buffers is
    built, so a size probe reads actual bytes — or when the plan is
    not a cache relation, whose probe can never read anything else."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return bool(plan.cacheBuilder().isCachedColumnBuffersLoaded())
    except Exception:  # noqa: BLE001
        return True


def cached_names(spark, sf_dir: str) -> list[str]:
    """Names currently cached for this (application, sf_dir) —
    lets builders CHAIN from existing sidecars (e.g. the as-of text
    index advances the nearest cached earlier snapshot instead of
    building from scratch). Read-only; does not touch LRU order."""
    app = spark.sparkContext.applicationId
    return [n for (a, s, n) in _CACHE if a == app and s == sf_dir]


def cached_df(
    sf_dir: str,
    name: str,
    builder: Callable[[], DataFrame],
    spark=None,
    pinned: bool = False,
) -> DataFrame:
    # with the session in hand the hit path never invokes the
    # builder: chained as-of builders construct (and would persist)
    # a PRIOR snapshot's whole plan, so building on a hit could
    # re-insert an evicted prior entry and evict a hot sidecar for
    # a frame that is never computed or used
    if spark is not None:
        key = (spark.sparkContext.applicationId, sf_dir, name)
        hit = _CACHE.get(key)
        if hit is not None:
            hit.pinned = hit.pinned or pinned
            _CACHE.move_to_end(key)
            return hit.df
    df = builder()
    # key on the Spark application: a restarted/different session must
    # rebuild, not serve DataFrames of a dead context
    app = df.sparkSession.sparkContext.applicationId
    key = (app, sf_dir, name)
    entry = _CACHE.get(key)
    if entry is None:
        global _INSERTS
        _INSERTS += 1
        entry = _Entry(
            df.persist(StorageLevel.MEMORY_AND_DISK), pinned, _INSERTS
        )
        _CACHE[key] = entry
        _enforce_budget()
    else:
        entry.pinned = entry.pinned or pinned
        _CACHE.move_to_end(key)
    return entry.df


def _enforce_budget() -> None:
    """Probe sizes of entries that have aged one insert (a query ran
    between the inserts, so their storage is normally materialized by
    now), then evict unpinned LRU entries while the unpinned total
    exceeds MAX_BYTES. An entry probed before it materialized (two
    inserts back to back) holds the optimizer's estimate, which can
    be huge; it is probed again until the reading is final."""
    for e in _CACHE.values():
        if e.born < _INSERTS and not e.final:
            done = _materialized(e.df)
            if done or e.size is None:
                e.size, e.final = _probe_size(e.df), done
    total = sum(e.size or 0 for e in _CACHE.values() if not e.pinned)
    if total <= MAX_BYTES:
        return
    global EVICTIONS
    for key in list(_CACHE):
        if total <= MAX_BYTES:
            break
        e = _CACHE[key]
        if e.pinned or e.born == _INSERTS:  # never evict the newcomer
            continue
        del _CACHE[key]
        total -= e.size or 0
        EVICTIONS += 1
        try:
            e.df.unpersist()
        except Exception:
            pass  # dead context — storage is already gone


def clear() -> None:
    for e in _CACHE.values():
        try:
            e.df.unpersist()
        except Exception:
            pass
    _CACHE.clear()


_VALUES: dict[tuple[str, str, str], object] = {}


def cached_value(spark, sf_dir: str, name: str, build: Callable[[], object]):
    """Session get-or-build for an IMMUTABLE per-application value:
    reader frames and schemas of the testdata tables, index-build
    statistics (the graph node count), per-session scratch
    directories. Unbounded: the names are a small fixed set per
    corpus."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _VALUES:
        _VALUES[key] = build()
    return _VALUES[key]


PLAN_MAX = 256
# (applicationId, sf_dir, request key) -> (plan, frames the key named)
_PLANS: OrderedDict[tuple, tuple[DataFrame, tuple[DataFrame, ...]]] = OrderedDict()


class _Unkeyable(Exception):
    pass


_PRIMITIVES = (type(None), bool, int, float, str, datetime.date)


def _canon(v, frames: list[DataFrame]):
    """Canonical hashable form of a request value."""
    if isinstance(v, _PRIMITIVES):
        return v
    if isinstance(v, DataFrame):
        frames.append(v)
        return (DataFrame, id(v))
    # only a class the @dataclass decorator processed itself: a plain
    # subclass of one may carry state its fields do not show
    if "__dataclass_fields__" in vars(type(v)):
        return (type(v), tuple(_canon(getattr(v, f.name), frames) for f in dataclasses.fields(v)))
    if isinstance(v, dict):
        return (dict, frozenset((_canon(k, frames), _canon(x, frames)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x, frames) for x in v)
    raise _Unkeyable


def memo_plan(spark, sf_dir: str, request, build: Callable[[], DataFrame]) -> DataFrame:
    """The built plan for ``request``, from the plan memo when an equal
    request was built before in this session. ``request`` is keyed by
    value; a request holding anything that cannot be keyed (an object
    that is not a dataclass, e.g. a plain ``Expr`` subclass) builds
    fresh every time."""
    frames: list[DataFrame] = []
    try:
        key = (spark.sparkContext.applicationId, sf_dir, _canon(request, frames))
    except _Unkeyable:
        return build()
    hit = _PLANS.get(key)
    if hit is not None:
        _PLANS.move_to_end(key)
        return hit[0]
    df = build()
    # the entry holds the frames the key names by id(), so a recycled
    # id() cannot alias a different frame while the entry lives
    _PLANS[key] = (df, tuple(frames))
    while len(_PLANS) > PLAN_MAX:
        _PLANS.popitem(last=False)
    return df


def drop_plans() -> None:
    """Forget every memoized plan: serving state moved under them."""
    _PLANS.clear()
