"""Session lifecycle, per-layer instrumentation and the find-request
runner shared by the workloads.

The benchmark times the engine from outside: it calls the engine's
public functions and, in the traced run, wraps the public functions of
the layer modules so each call records a span. Nothing in the engine
is changed."""

from __future__ import annotations

import functools
import hashlib
import inspect
import os
import sys
import time
from contextlib import contextmanager

import measure as tr

# modules whose public functions get a span in the traced run, with
# the layer name the span carries
LAYERS = {
    "nucliadb_spark.api": "api",
    "nucliadb_spark.operators.bm25": "operators.bm25",
    "nucliadb_spark.operators.knn": "operators.knn",
    "nucliadb_spark.operators.ann": "operators.ann",
    "nucliadb_spark.operators.graph": "operators.graph",
    "nucliadb_spark.operators.fusion": "operators.fusion",
    "nucliadb_spark.operators.dedup": "operators.dedup",
    "nucliadb_spark.operators.iterative": "operators.iterative",
    "nucliadb_spark.operators.hydrate": "operators.hydrate",
    "nucliadb_spark.plans.planner": "plans.planner",
    "nucliadb_spark.serving": "serving",
    "nucliadb_spark.streaming.ingest": "streaming.ingest",
}
# the layers whose construct-time self time is reported per request
CONSTRUCT_LAYERS = (
    "operators.bm25",
    "operators.knn",
    "operators.ann",
    "operators.graph",
    "operators.fusion",
    "plans.planner",
)


class Failure(Exception):
    """An operation broke a contract the benchmark checks."""


def result_hash(rows) -> str:
    return hashlib.sha1(
        repr([(r[0], round(float(r[1]), 9)) for r in rows]).encode()
    ).hexdigest()


def check_ranking(rows, top_k: int, search_after=None) -> None:
    """At most ``top_k`` rows, unique ids, (score desc, id asc) order,
    and every row past the cursor when one was given."""
    if len(rows) > top_k:
        raise Failure(f"{len(rows)} rows for top_k {top_k}")
    ids = [r[0] for r in rows]
    if len(set(ids)) != len(ids):
        raise Failure(f"duplicate ids {ids}")
    for a, b in zip(rows, rows[1:]):
        if (a[1], -a[0]) < (b[1], -b[0]):
            raise Failure(f"order broken at {a[:2]} -> {b[:2]}")
    if search_after is not None:
        cs, cid = search_after
        for r in rows:
            if not (r[1] < cs or (r[1] == cs and r[0] > cid)):
                raise Failure(f"row {r[:2]} not after cursor {search_after}")


class Harness:
    """One run's engine session, counters and corpus facts."""

    def __init__(self, run_dir: str, sf_dir: str, traced: bool):
        import pyarrow.parquet as pq

        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.traced = traced
        self.tracer = tr.Tracer(traced)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.find_calls = 0
        self.build_calls = 0
        self.cache_hits = 0
        self.cache_misses = 0
        docs = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "n_chars"]
        )
        # document length by id: a hit's first paragraph id needs it
        self.n_chars = dict(zip(docs["doc_id"].to_pylist(), docs["n_chars"].to_pylist()))
        self.n_doc = len(self.n_chars)
        self.n_vec = pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows
        self.ingest = None  # the ingest workload's streamed log state

    # --- session -------------------------------------------------------

    def start_session(self) -> float:
        """Start a SparkSession and run its first job; seconds taken."""
        from nucliadb_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session and the JVM, and wait until the JVM ended."""
        import subprocess

        from pyspark import SparkContext

        from nucliadb_spark import cache, serving

        gw = SparkContext._gateway
        if self.spark is not None:
            cache.clear()
            serving.reset()
            self.spark.stop()
            self.spark = None
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def cpu_s(self) -> float:
        """CPU seconds this process, the JVM and Spark's Python workers
        have used so far."""
        return tr.tree_cpu_s(os.getpid())

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def setup(self, prebuild) -> dict:
        """Start the session and run ``prebuild``; the timings."""
        start = self.start_session()
        t0 = time.perf_counter()
        prebuild(self)
        build = time.perf_counter() - t0
        return {"setup_s": start + build, "session.start_s": start, "index_build_s": build}

    # --- instrumentation ------------------------------------------------

    def reset_counters(self) -> None:
        """Forget spans and counts so far: per-layer readings cover the
        measured operations only."""
        from nucliadb_spark import cache

        self.tracer.spans.clear()
        self.find_calls = self.build_calls = 0
        self.cache_hits = self.cache_misses = 0
        cache.reset_stats()

    def instrument(self) -> None:
        """Wrap the layer modules' public functions with spans and
        count plan-memo and cache outcomes. Traced run only."""
        import importlib

        from nucliadb_spark import api, cache

        swaps: dict[int, object] = {}
        for modname, layer in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_") and name != "_build_find_request"
                ) or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                swaps[id(fn)] = (fn, self._spanned(f"{layer}.{name}", fn))
        orig_find, orig_build = api.find_request, api._build_find_request
        orig_cached = cache.cached_df
        span_find, span_build = swaps[id(orig_find)][1], swaps[id(orig_build)][1]

        def count_find(*a, **kw):
            self.find_calls += 1
            return span_find(*a, **kw)

        def count_build(*a, **kw):
            self.build_calls += 1
            return span_build(*a, **kw)

        def counting_cached_df(sf_dir, name, builder, *a, **kw):
            built = []

            def b():
                built.append(1)
                return builder()

            df = orig_cached(sf_dir, name, b, *a, **kw)
            if built:
                self.cache_misses += 1
            else:
                self.cache_hits += 1
            return df

        swaps[id(orig_find)] = (orig_find, count_find)
        swaps[id(orig_build)] = (orig_build, count_build)
        swaps[id(orig_cached)] = (orig_cached, counting_cached_df)
        # rebind every module-level reference, including names other
        # modules imported with "from x import f"
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("nucliadb_spark"):
                continue
            for name, val in list(vars(mod).items()):
                hit = swaps.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, name, hit[1])

    def _spanned(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.tracer.span(name):
                return fn(*a, **kw)

        return wrapper

    @contextmanager
    def aside(self):
        """Untimed work after the measured operations: its spans and
        plan-memo and cache counts go to the yielded dict, not to the
        run's per-layer readings."""
        saved = (self.tracer, self.find_calls, self.build_calls,
                 self.cache_hits, self.cache_misses)
        self.tracer = tr.Tracer(self.traced)
        self.find_calls = self.build_calls = self.cache_hits = self.cache_misses = 0
        out: dict = {}
        try:
            yield out
        finally:
            out.update(spans=self.tracer.spans, find_calls=self.find_calls,
                       build_calls=self.build_calls)
            (self.tracer, self.find_calls, self.build_calls,
             self.cache_hits, self.cache_misses) = saved

    @contextmanager
    def phase(self, request: str, name: str):
        """One request phase: a span, and in the traced run a Spark job
        group ``<request>:<name>`` so the event log splits by phase."""
        if self.traced:
            self.spark.sparkContext.setJobGroup(f"{request}:{name}", name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            if self.traced:
                self.spark.sparkContext.setJobGroup("", "")

    # --- operations -----------------------------------------------------

    def op(self, fn):
        """Run one operation; a Failure or unexpected exception counts
        as failed. Returns fn's result, or None when it failed."""
        self.attempted += 1
        try:
            return fn()
        except Failure as exc:
            self.fail(f"{exc}")
        except Exception as exc:  # noqa: BLE001 — counted, not fatal
            self.fail(f"{type(exc).__name__}: {exc}")
        return None

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(msg[:300])

    def find_request(self, spec: dict):
        from nucliadb_spark import api
        from nucliadb_spark.operators import filters as fx

        filters = fx.Facet(spec["facet"]) if "facet" in spec else None
        sa = spec.get("search_after")
        return api.FindRequest(
            query=spec["query"],
            features=list(spec["features"]),
            top_k=spec["top_k"],
            query_vec_id=spec["query_vec_id"],
            entity_sources=spec.get("entity_sources"),
            fields=spec.get("fields"),
            filters=filters,
            security_groups=spec.get("security_groups"),
            search_after=tuple(sa) if sa else None,
            rephrase=spec.get("rephrase", False),
            as_of=spec.get("as_of"),
        )

    def run_find(self, spec: dict, request: str) -> dict:
        """construct → collect → hydrate of one find request, with the
        ranking checks. Raises on any failure."""
        from nucliadb_spark import api
        from nucliadb_spark.functions import frames
        from nucliadb_spark.operators import hydrate
        from nucliadb_spark.sources import tpch

        spark, sd = self.spark, self.sf_dir
        self.tracer.request = request
        req = self.find_request(spec)
        with self.tracer.span("request"):
            c0 = self.cpu_s()
            t0 = time.perf_counter()
            with self.phase(request, "construct"):
                df = api.find_request(spark, sd, req)
            t1 = time.perf_counter()
            with self.phase(request, "collect"):
                rows = [(r["id"], r["score"]) for r in df.collect()]
            t2 = time.perf_counter()
            with self.phase(request, "hydrate"):
                if rows:
                    pids = [
                        (f"{i}/0-{min(tpch.PARAGRAPH_STRIDE, self.n_chars[i])}",)
                        for i, _ in rows
                    ]
                    ids = frames.literal_frame(spark, pids, "paragraph_id string")
                    hyd = hydrate.hydrate(
                        ids,
                        tpch.paragraphs(spark, sd),
                        tpch.fields(spark, sd),
                        tpch.resources(spark, sd),
                    ).collect()
                else:
                    hyd = []
            t3 = time.perf_counter()
            c3 = self.cpu_s()
        self.tracer.request = None
        check_ranking(rows, spec["top_k"], spec.get("search_after"))
        if len(hyd) != len(rows):
            raise Failure(f"hydrate returned {len(hyd)} rows for {len(rows)} hits")
        return {
            "rows": rows,
            "construct_s": t1 - t0,
            "collect_s": t2 - t1,
            "hydrate_s": t3 - t2,
            "total_s": t3 - t0,
            "cpu_s": c3 - c0,
        }

    # --- per-layer readings --------------------------------------------

    def cache_state(self) -> dict:
        from nucliadb_spark import cache

        entries = list(cache._CACHE.values())
        return {
            "cache.entries": len(entries),
            "cache.unpinned_bytes": sum(e.size or 0 for e in entries if not e.pinned),
            "cache.evictions": cache.EVICTIONS,
        }
