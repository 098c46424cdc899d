"""FindRequest API behavior: feature pruning, single-source skip,
legacy filters, reranker window — the planner rules working together
in the real pipeline."""

import pytest

from nucliadb_spark import api
from nucliadb_spark.operators import bm25
from nucliadb_spark.plans import planner
from nucliadb_spark.sources import tpch


def test_keyword_only_equals_bm25(spark, sf_dir):
    req = api.FindRequest(query="spark join window", features=["keyword"], top_k=10)
    out = api.find_request(spark, sf_dir, req).collect()
    direct = bm25.bm25_search(
        tpch.fields(spark, sf_dir), "spark join window", top_k=10
    ).collect()
    assert [r.id for r in out] == [r.rid for r in direct]
    assert all(r.matched_sources == ["keyword"] for r in out)


def test_quoted_query_disables_semantic(spark, sf_dir):
    req = api.FindRequest(query='"batch batch"', features=["keyword", "semantic"])
    # quoted-only query → semantic dropped → keyword-only (T7 + R3)
    out = api.find_request(spark, sf_dir, req)
    assert {r.matched_sources[0] for r in out.collect()} == {"keyword"}


def test_hybrid_fuses_sources(spark, sf_dir):
    req = api.FindRequest(query="spark join window", top_k=10)
    rows = api.find_request(spark, sf_dir, req).collect()
    assert len(rows) == 10
    assert any(len(r.matched_sources) == 2 for r in rows)


def test_legacy_filters_fold_in(spark, sf_dir):
    legacy = planner.LegacyFilters(filters=["/s/p/en"])
    req = api.FindRequest(query="merge sort", features=["keyword"], legacy_filters=legacy)
    out = api.find_request(spark, sf_dir, req)
    docs = tpch.table(spark, sf_dir, "documents")
    en_ids = {r.doc_id for r in docs.filter("lang = 'en'").collect()}
    assert {r.id for r in out.collect()} <= en_ids


def test_stub_reranker_reorders(spark, sf_dir):
    req = api.FindRequest(query="spark join window", top_k=5, reranker="stub")
    rows = api.find_request(spark, sf_dir, req).collect()
    assert len(rows) == 5
    scores = [float(r.score) for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(0.0 <= s <= 1.0 for s in scores)


def test_prequeries_fuse_with_main(spark, sf_dir):
    pre = api.FindRequest(query="merge sort key", features=["keyword"], top_k=10)
    req = api.FindRequest(
        query="spark join window",
        features=["keyword"],
        top_k=10,
        prequeries=[(pre, 2.0)],
    )
    rows = api.find_request(spark, sf_dir, req).collect()
    assert len(rows) == 10
    srcs = {s for r in rows for s in r.matched_sources}
    assert srcs == {"main", "pre_0"} or "pre_0" in srcs


def test_no_retrievers_raises(spark, sf_dir):
    with pytest.raises(ValueError):
        api.find_request(spark, sf_dir, api.FindRequest(query="", features=["keyword"]))


def test_min_score_bm25_cuts_keyword_leg(spark, sf_dir):
    # reference MinScore model: bm25 threshold filters the keyword
    # index results before fusion (nucliadb_models/search.py:786-797)
    base = api.FindRequest(query="spark join window", features=["keyword"], top_k=20)
    full = api.find_request(spark, sf_dir, base).collect()
    assert full, "baseline must return hits"
    cut_at = sorted((r.score for r in full), reverse=True)[len(full) // 2]
    cut = api.find_request(
        spark,
        sf_dir,
        api.FindRequest(
            query="spark join window",
            features=["keyword"],
            top_k=20,
            min_score_bm25=cut_at,
        ),
    ).collect()
    assert 0 < len(cut) < len(full)
    assert all(r.score >= cut_at for r in cut)


def test_rephrase_feeds_semantic_leg_only(spark, sf_dir):
    """rephrase=True must change WHAT the semantic leg embeds (the
    rewritten text) while the keyword leg still sees the original
    query — the reference's Predict-rephrase split."""
    from nucliadb_spark import api
    from nucliadb_spark.functions.models import stub_rephrase_py

    q = "the spark shuffle and the spark partition"
    assert stub_rephrase_py(q) == "spark shuffle partition"

    base = api.FindRequest(query=q, features=["semantic"], rephrase=True)
    clean = api.FindRequest(
        query=stub_rephrase_py(q), features=["semantic"], rephrase=True
    )
    a = [r["id"] for r in api.find_request(spark, sf_dir, base).collect()]
    b = [r["id"] for r in api.find_request(spark, sf_dir, clean).collect()]
    # rephrase is idempotent: the noisy and pre-cleaned queries embed
    # identically, so the semantic results agree row for row
    assert a == b and a

    kw = api.FindRequest(query=q, features=["keyword"], rephrase=True)
    kw_plain = api.FindRequest(query=q, features=["keyword"])
    ka = [(r["id"], r["score"]) for r in api.find_request(spark, sf_dir, kw).collect()]
    kb = [(r["id"], r["score"]) for r in api.find_request(spark, sf_dir, kw_plain).collect()]
    assert ka == kb  # keyword leg unaffected by rephrase


def test_find_request_fields_scope_validation():
    """nucliadb_models/search.py:1204-1222 rule-for-rule."""
    import pytest

    from nucliadb_spark import api

    assert api.normalize_fields(["/a/title", "t/body"]) == ["a/title", "t/body"]
    with pytest.raises(ValueError, match="format"):
        api.normalize_fields(["title"])
    with pytest.raises(ValueError, match="valid field type"):
        api.normalize_fields(["x/title"])


def test_find_request_fields_scope_executes(spark, sf_dir):
    """fields=["a/title"] scopes the keyword leg to the title-field
    corpus and the semantic leg to resources owning such a field."""
    from nucliadb_spark import api

    req = api.FindRequest(
        query="merge stream window",
        features=["keyword", "semantic"],
        top_k=8,
        fields=["a/title"],
    )
    rows = api.find_request(spark, sf_dir, req).collect()
    assert rows and {"id", "score"} <= set(rows[0].asDict())
    # scoped ranking differs from the unscoped body ranking
    req2 = api.FindRequest(
        query="merge stream window", features=["keyword"], top_k=8,
        fields=["a/title"],
    )
    scoped = [r.id for r in api.find_request(spark, sf_dir, req2).collect()]
    req3 = api.FindRequest(
        query="merge stream window", features=["keyword"], top_k=8,
    )
    unscoped = [r.id for r in api.find_request(spark, sf_dir, req3).collect()]
    assert scoped and unscoped and scoped != unscoped


def test_unknown_fields_scope_leaves_no_pinned_entry(spark, sf_dir):
    """Field names are request input: a scope over a field nobody has
    still caches its (empty) owning-resource set, but UNPINNED, so
    arbitrary names age out under the cache budget instead of growing
    the never-evicted pinned set."""
    from nucliadb_spark import cache

    req = api.FindRequest(
        query="merge stream window", features=["keyword"], top_k=8,
        fields=["a/no_such_field_in_corpus"],
    )
    assert api.find_request(spark, sf_dir, req).collect() == []
    scope = {
        n: e.pinned
        for (_app, s, n), e in cache._CACHE.items()
        if s == sf_dir and "no_such_field_in_corpus" in n
    }
    assert scope == {"scope_rids:/a/no_such_field_in_corpus": False}


def test_search_after_literal_cursor_pages_the_ranking(spark, sf_dir):
    """FindRequest.search_after with a client-held (score, id) cursor:
    page 2 equals rows 11-20 of the same request at top_k=20, and the
    pages are disjoint — keyset semantics, no OFFSET."""
    from nucliadb_spark import api

    base = dict(
        query="spark shuffle partition",
        features=["keyword", "semantic"],
        top_k=10,
        window=50,
        query_vec_id=0,
    )
    page1 = api.find_request(spark, sf_dir, api.FindRequest(**base)).collect()
    assert len(page1) == 10
    cursor = (page1[-1].score, page1[-1].id)
    page2 = api.find_request(
        spark, sf_dir, api.FindRequest(**base, search_after=cursor)
    ).collect()
    deep = api.find_request(
        spark, sf_dir, api.FindRequest(**{**base, "top_k": 20})
    ).collect()
    assert [r.id for r in page2] == [r.id for r in deep[10:20]]
    assert not {r.id for r in page1} & {r.id for r in page2}


def test_search_after_rejects_reranker(spark, sf_dir):
    from nucliadb_spark import api

    import pytest

    req = api.FindRequest(
        query="spark shuffle partition",
        search_after=(0.5, 1),
        reranker="stub",
    )
    with pytest.raises(ValueError, match="search_after"):
        api.find_request(spark, sf_dir, req)


def test_search_after_rejects_prequeries(spark, sf_dir):
    """The cursor would apply to the inner main leg BEFORE the outer
    weighted RRF re-ranks — page 2 would not tile the fused ranking,
    so the combination must be rejected up front."""
    from nucliadb_spark import api

    import pytest

    pre = api.FindRequest(query="lineitem", features=["keyword"])
    req = api.FindRequest(
        query="spark shuffle partition",
        search_after=(0.5, 1),
        prequeries=[(pre, 0.5)],
    )
    with pytest.raises(ValueError, match="search_after"):
        api.find_request(spark, sf_dir, req)


def test_fielded_scope_resolves_at_snapshot(spark, sf_dir):
    """The `fields` scope under as_of is field-grain MVCC: at the
    HEAD snapshot (all ops applied) the '/u/link' scope must equal
    the live fielded corpus — link fields deleted by the rid%9 wave
    are OUT of scope — while at the pre-delete snapshot they are
    still IN scope (deletes not yet visible)."""
    from pyspark.sql import functions as F

    from nucliadb_spark.sources import tpch
    from nucliadb_spark.streaming import ingest

    fm = tpch.fields_multi(spark, sf_dir)
    log = ingest.cdc_field_log(fm)

    def scope_rids(as_of):
        return {
            r.rid
            for r in ingest.cdc_live_fielded(log.filter(F.col("seq") <= as_of))
            .filter(F.col("field_key") == "/u/link")
            .select("rid")
            .distinct()
            .collect()
        }

    batch = {
        r.rid
        for r in fm.filter(F.col("field_key") == "/u/link")
        .select("rid")
        .distinct()
        .collect()
    }
    pre_delete = scope_rids(1_500_000)
    head = scope_rids(3_000_000)
    deleted = {rid for rid in batch if rid % 9 == 0}
    assert deleted, "fixture must delete some link fields"
    assert pre_delete == batch
    assert head == batch - deleted


def test_as_of_after_pages_tile_the_snapshot_window(spark, sf_dir):
    """Reproducible paging: walking the snapshot ranking through the
    API with literal (score, id) cursors must partition the fused
    window exactly — no overlap, no gap, same rows as the one-shot
    top-window read at the same snapshot."""
    from nucliadb_spark import api
    from nucliadb_spark.plans.queries_streaming import _AS_OF_SEQ, _ASOF_HYBRID_Q

    base = dict(
        query=_ASOF_HYBRID_Q,
        features=["keyword", "semantic", "graph"],
        window=20,
        query_vec_id=5,
        as_of=_AS_OF_SEQ,
    )
    full = api.find_request(
        spark, sf_dir, api.FindRequest(**base, top_k=20)
    ).collect()
    walked, cursor = [], None
    for _ in range(5):
        page = api.find_request(
            spark,
            sf_dir,
            api.FindRequest(**base, top_k=5, search_after=cursor),
        ).collect()
        if not page:
            break
        walked.extend(page)
        cursor = (page[-1].score, page[-1].id)
    assert [r.id for r in walked] == [r.id for r in full]
    assert len({r.id for r in walked}) == len(walked)


def test_as_of_filter_resolves_label_state_at_the_seq(spark, sf_dir):
    """as_of × filters MVCC: the Facet tree resolves against the
    label op log CUT AT THE SEQ, not live labels. At 1.5M the rid%11
    label-delete wave is not yet applied, so docs deleted later still
    satisfy the filter at the snapshot — the observable difference
    between the two resolutions — and the API's returned ids are a
    subset of the snapshot-allowed set."""
    from pyspark.sql import functions as F

    from nucliadb_spark.plans.queries_streaming import (
        _AS_OF_SEQ,
        _ASOF_HYBRID_Q,
        _asof_label_filter,
    )
    from nucliadb_spark.streaming import ingest

    filt = _asof_label_filter()
    labeled = tpch.fields(spark, sf_dir).select("rid", "labels")
    log = ingest.cdc_label_log(labeled)

    def allowed(lg):
        return {
            r.rid
            for r in ingest.cdc_live_labels(lg)
            .filter(filt.to_column())
            .select("rid")
            .collect()
        }

    asof_allowed = allowed(log.filter(F.col("seq") <= _AS_OF_SEQ))
    live_allowed = allowed(log)
    deleted_later = {rid for rid in asof_allowed if rid % 11 == 0}
    assert deleted_later, "fixture must label-delete some filter-matching docs"
    assert not (deleted_later & live_allowed)
    assert asof_allowed - deleted_later == live_allowed

    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword"],
        top_k=50,
        window=50,
        as_of=_AS_OF_SEQ,
        filters=filt,
    )
    ids = {r.id for r in api.find_request(spark, sf_dir, req).collect()}
    assert ids and ids <= asof_allowed


def test_as_of_rejects_oplogless_versioned_filters(spark, sf_dir):
    """Predicates over versioned state with NO op log and no
    derivation from one (an unknown keyword column, a KV path over a
    non-logged column) have no snapshot identity — the composition
    must raise, not silently answer against mixed snapshots.
    Everything WITH an op log composes as of r13 (labels,
    security/extra/origin, text keywords), and r14 lifted
    `modified`/`n_chars` into the DERIVED plane (pure functions of
    the content log) — the classifier must reject exactly the
    remaining op-log-less leaves."""
    from nucliadb_spark.operators.filters import And, Facet, Keyword

    req = api.FindRequest(
        query="spark join window",
        features=["keyword"],
        as_of=1_500_000,
        filters=And([Facet("/s/p/en"), Keyword("merge", column="title")]),
    )
    with pytest.raises(ValueError, match="snapshot identity"):
        api.find_request(spark, sf_dir, req)


def test_filter_planes_classifier():
    """The as_of composition rule, leaf by leaf: labels resolve from
    the label log; security/extra/origin are PATCHable metadata
    (writer.py:155-169) resolving from the METADATA log; text
    keywords resolve from the CONTENT log; immutable identity
    (created, rid) is snapshot-independent; `modified`/`n_chars`
    DERIVE from the content log (r14 — the derived plane); versioned
    state with neither an op log nor a derivation rejects."""
    from nucliadb_spark.api import _filter_planes
    from nucliadb_spark.operators.filters import (
        And,
        DateRange,
        Facet,
        FieldEquals,
        Keyword,
        Not,
        Or,
        SecurityFilter,
    )

    assert _filter_planes(Facet("/s/p/en")) == {"label"}
    assert _filter_planes(DateRange("created", since="2024-01-01")) == {"static"}
    # security/extra/origin: PATCHable metadata → the 'meta' plane
    assert _filter_planes(SecurityFilter(groups=["group-1"])) == {"meta"}
    assert _filter_planes(FieldEquals("source", "src3")) == {"meta"}
    assert _filter_planes(FieldEquals("language", "en")) == {"meta"}
    # text keywords: versioned content WITH an op log → 'text' plane
    assert _filter_planes(Keyword("merge")) == {"text"}
    assert _filter_planes(Keyword("merge", column="title")) == {"versioned"}
    assert _filter_planes(FieldEquals("text", "x")) == {"versioned"}
    from nucliadb_spark.operators.filters import JsonPath

    assert _filter_planes(
        JsonPath("extra", "audit.uid", "lte", 50, kind="int")
    ) == {"meta"}
    assert _filter_planes(
        JsonPath("text", "k", "eq", 1, kind="int")
    ) == {"versioned"}
    # modified tracks writes, n_chars describes the versioned text —
    # no op log of their own, but both are PURE FUNCTIONS of the
    # content log (modified = last op's commit ts, n_chars = as-of
    # text length), so r14 classifies them as the 'derived' plane
    assert _filter_planes(
        DateRange("modified", since="2024-01-01")
    ) == {"derived"}
    assert _filter_planes(FieldEquals("n_chars", 100)) == {"derived"}
    mixed = And(
        [Or([Facet("/s/p/de"), Facet("/s/p/fr")]), SecurityFilter(groups=["g"])]
    )
    assert _filter_planes(mixed) == {"label", "meta"}
    assert _filter_planes(Not(mixed)) == {"label", "meta"}
    triple = And([Keyword("merge"), DateRange("created", until="2024-06-01")])
    assert _filter_planes(triple) == {"text", "static"}


def test_as_of_security_filter_resolves_meta_state_at_the_seq(spark, sf_dir):
    """as_of × security: the allowed set resolves from the seq-cut
    METADATA op log, not today's columns — the fixture's lockdown
    wave (rid%7 → private/'group-locked' at seq rid+1e6) is below
    this snapshot, so rid%7 docs are excluded even where the static
    columns would admit them via `public`; and docs the later delete
    wave (rid%11) removes are still candidates."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators.filters import SecurityFilter
    from nucliadb_spark.streaming import ingest

    sec = SecurityFilter(groups=["group-2", "group-5"])
    seq = 1_500_000
    req = api.FindRequest(
        query="refreshed revision stream",
        features=["keyword"],
        top_k=50,
        window=50,
        as_of=seq,
        filters=sec,
    )
    hits = {r.id for r in api.find_request(spark, sf_dir, req).collect()}
    meta = ingest.cdc_live_meta(
        ingest.cdc_meta_log(tpch.fields(spark, sf_dir)).filter(
            F.col("seq") <= seq
        )
    )
    allowed = {r.rid for r in meta.filter(sec.to_column()).select("rid").collect()}
    static_allowed = {
        r.rid
        for r in tpch.fields(spark, sf_dir)
        .filter(sec.to_column())
        .select("rid")
        .collect()
    }
    assert hits and hits <= allowed
    # the lockdown is OBSERVABLE: some statically-visible docs are
    # invisible at the snapshot, and no hit is a locked doc
    locked = {rid for rid in static_allowed if rid % 7 == 0}
    assert locked and not (locked & allowed) and not (locked & hits)
    # docs the later delete wave removes are still candidates at this
    # pre-delete-wave seq (membership comes from the content cut)
    assert any(i % 11 == 0 and i % 7 != 0 for i in allowed)


def test_as_of_mixed_plane_tree_equals_manual_intersection(spark, sf_dir):
    """A mixed label×meta And-tree at a snapshot returns exactly
    the label-only request's hits restricted to rids satisfying the
    security predicate AGAINST THE SEQ-CUT METADATA STATE — the
    by-hand composition the joined-plane evaluation must reproduce
    (modulo window competition, so compare at a window wide enough
    to be exhaustive)."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators.filters import And, Facet, Or, SecurityFilter
    from nucliadb_spark.streaming import ingest

    label_tree = Or([Facet("/s/p/de"), Facet("/s/p/fr")])
    sec = SecurityFilter(groups=["group-2", "group-5"])
    seq = 1_500_000

    def ids(filt):
        req = api.FindRequest(
            query="refreshed revision stream",
            features=["keyword"],
            top_k=500,
            window=500,
            as_of=seq,
            filters=filt,
        )
        return {r.id for r in api.find_request(spark, sf_dir, req).collect()}

    mixed = ids(And([label_tree, sec]))
    label_only = ids(label_tree)
    meta = ingest.cdc_live_meta(
        ingest.cdc_meta_log(tpch.fields(spark, sf_dir)).filter(
            F.col("seq") <= seq
        )
    )
    allowed_meta = {
        r.rid for r in meta.filter(sec.to_column()).select("rid").collect()
    }
    assert mixed == (label_only & allowed_meta)
    assert mixed  # non-vacuous


def test_as_of_filters_fields_triple_composes(spark, sf_dir):
    """The full lattice: scope from the seq-cut fielded log, filter
    from the seq-cut label log, corpus from the seq-cut content logs
    — every returned id must own a scoped field at the snapshot AND
    satisfy the label filter at the snapshot."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators.filters import Facet
    from nucliadb_spark.plans.queries_streaming import _AS_OF_SEQ, _ASOF_HYBRID_Q
    from nucliadb_spark.streaming import ingest

    filt = Facet("/s/p/en")
    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword"],
        top_k=50,
        window=50,
        as_of=_AS_OF_SEQ,
        fields=["u/link"],
        filters=filt,
    )
    ids = {r.id for r in api.find_request(spark, sf_dir, req).collect()}
    assert ids

    labeled = tpch.fields(spark, sf_dir).select("rid", "labels")
    allowed = {
        r.rid
        for r in ingest.cdc_live_labels(
            ingest.cdc_label_log(labeled).filter(F.col("seq") <= _AS_OF_SEQ)
        )
        .filter(filt.to_column())
        .select("rid")
        .collect()
    }
    scope = {
        r.rid
        for r in ingest.cdc_live_fielded(
            ingest.cdc_field_log(tpch.fields_multi(spark, sf_dir)).filter(
                F.col("seq") <= _AS_OF_SEQ
            )
        )
        .filter(F.col("field_key") == "/u/link")
        .select("rid")
        .collect()
    }
    assert ids <= (allowed & scope)


def test_as_of_filters_search_after_pages_tile(spark, sf_dir):
    """as_of × filters × search_after in one FindRequest: keyset
    pages of the FILTERED snapshot ranking must tile the one-shot
    window exactly — the reproducible-paging contract survives the
    label prefilter."""
    from nucliadb_spark.plans.queries_streaming import (
        _AS_OF_SEQ,
        _ASOF_HYBRID_Q,
        _asof_label_filter,
    )

    base = dict(
        query=_ASOF_HYBRID_Q,
        features=["keyword", "semantic", "graph"],
        window=20,
        query_vec_id=5,
        as_of=_AS_OF_SEQ,
        filters=_asof_label_filter(),
    )
    full = api.find_request(
        spark, sf_dir, api.FindRequest(**base, top_k=20)
    ).collect()
    assert full
    walked, cursor = [], None
    for _ in range(5):
        page = api.find_request(
            spark,
            sf_dir,
            api.FindRequest(**base, top_k=5, search_after=cursor),
        ).collect()
        if not page:
            break
        walked.extend(page)
        cursor = (page[-1].score, page[-1].id)
    assert [r.id for r in walked] == [r.id for r in full]
    assert len({r.id for r in walked}) == len(walked)


def test_prequeries_carry_their_own_as_of(spark, sf_dir):
    """Each prequery is a full FindRequest, so a prequery may resolve
    at its OWN snapshot — the fusion weights combine rankings frozen
    at different seqs (e.g. 'today's retrieval boosted by what ranked
    well before the delete wave')."""
    from nucliadb_spark.plans.queries_streaming import _AS_OF_SEQ, _ASOF_HYBRID_Q

    pre = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword"],
        top_k=10,
        as_of=_AS_OF_SEQ,
    )
    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword"],
        top_k=10,
        prequeries=[(pre, 2.0)],
    )
    rows = api.find_request(spark, sf_dir, req).collect()
    assert len(rows) == 10
    srcs = {s for r in rows for s in r.matched_sources}
    assert "pre_0" in srcs or srcs == {"main", "pre_0"}


def _record_advances(monkeypatch, advance: str) -> list:
    """Patch ``ingest.<advance>`` and ``serving.log_between`` to record
    each advance call with the (lo, hi] delta read that fed it: ``lo``
    is the prior snapshot the new one chained from. The call is
    recorded because the chained result carries no lineage to inspect
    (checkpointed sidecars, durable artifacts)."""
    from nucliadb_spark import serving
    from nucliadb_spark.streaming import ingest

    calls: list = []
    deltas: list = []
    real_between = serving.log_between
    real_advance = getattr(ingest, advance)

    def recording_between(spark_, sf_dir_, log_name, builder, lo, hi):
        deltas.append((lo, hi))
        return real_between(spark_, sf_dir_, log_name, builder, lo, hi)

    def recording_advance(*a, **kw):
        calls.append(deltas[-1] if deltas else None)
        return real_advance(*a, **kw)

    monkeypatch.setattr(serving, "log_between", recording_between)
    monkeypatch.setattr(ingest, advance, recording_advance)
    return calls


def test_asof_text_index_chains_from_nearest_cached_snapshot(
    spark, sf_dir, monkeypatch
):
    """A session touring snapshots must not rebuild the text index
    from scratch per seq: the second snapshot's index derives from
    the nearest cached earlier one plus the delta ops, and its
    contents equal the from-scratch build exactly."""
    from nucliadb_spark.operators import bm25 as bm25_ops
    from nucliadb_spark.streaming import ingest

    import re

    from nucliadb_spark.cache import cached_names

    fields = tpch.fields(spark, sf_dir)
    s1, s2 = 800_000, 1_200_000
    api.asof_text_index(spark, sf_dir, fields, s1)  # seed the chain
    # the chain picks the NEAREST cached earlier snapshot — other
    # tests in the session may have cached one between s1 and s2
    # (e.g. the mid-wave keyword query's 1,000,030), which is an even
    # smaller delta; assert the advance started from exactly that one
    priors = [
        int(m.group(1))
        for n in cached_names(spark, sf_dir)
        if (m := re.fullmatch(r"asof(\d+)_text_post", n)) and int(m.group(1)) < s2
    ]
    nearest = max(priors)
    assert nearest >= s1  # the seed guarantees at least one prior
    advances = _record_advances(monkeypatch, "advance_text_index")
    post2, stats2, _ = api.asof_text_index(spark, sf_dir, fields, s2)
    monkeypatch.undo()
    assert advances == [(nearest, s2)]
    # and equals the from-scratch build exactly
    scratch = bm25_ops.postings(
        ingest.cdc_live_as_of(ingest.cdc_log(fields), s2)
    )
    assert {tuple(r) for r in post2.collect()} == {
        tuple(r) for r in scratch.collect()
    }
    assert {tuple(r) for r in stats2.collect()} == {
        tuple(r)
        for r in bm25_ops.doc_stats_from_postings(scratch).collect()
    }


@pytest.mark.slow  # r15 slow tier: multi-cut as-of behavior sweep
def test_as_of_entity_sources_resolves_membership_at_the_seq(spark, sf_dir):
    """as_of × entity_sources (r11, rejection lifted): the leg's
    corpus MEMBERSHIP resolves from the content op log while the
    static source attribute joins by rid. At a mid-backfill seq only
    already-indexed docs match; at the standard snapshot, docs the
    later delete wave removes still match (and are absent live)."""
    from pyspark.sql import functions as F

    def ids(as_of):
        req = api.FindRequest(
            query="",
            features=["graph"],
            top_k=50,
            window=50,
            entity_sources=["src3"],
            as_of=as_of,
        )
        return {r.id for r in api.find_request(spark, sf_dir, req).collect()}

    early = ids(300)  # mid-backfill: rids > 300 not yet indexed
    assert early and all(i <= 300 for i in early)
    snap = ids(1_500_000)  # post-revisions, pre-deletes
    src3 = {
        r.rid
        for r in tpch.fields(spark, sf_dir)
        .filter(F.col("source") == "src3")
        .select("rid")
        .collect()
    }
    # window-capped leg: the snapshot set is the first 50 src3 rids
    assert snap == set(sorted(src3)[:50])
    deleted_later = {i for i in snap if i % 11 == 0}
    assert deleted_later, "fixture should contain a later-deleted match"
    # at the log head the rid%11 delete wave has applied: the same
    # leg no longer serves those docs (and backfills the window from
    # the next src3 rids)
    head = ids(3_000_000)
    assert head == set(sorted(src3 - {r for r in src3 if r % 11 == 0})[:50])
    assert deleted_later & head == set()


def test_asof_family_index_chains_from_nearest_cached_snapshot(
    spark, sf_dir, monkeypatch
):
    """The per-(snapshot, family) sidecars chain too: a second
    snapshot's family index derives from the nearest cached earlier
    one plus the family's delta ops, and equals the from-scratch
    build exactly."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators import bm25 as bm25_ops
    from nucliadb_spark.streaming import ingest

    import re

    from nucliadb_spark.cache import cached_names

    s1, s2 = 900_000, 1_300_000
    api.asof_family_text_index(spark, sf_dir, "/u/link", s1)  # seed
    nearest = max(
        int(m.group(1))
        for n in cached_names(spark, sf_dir)
        if (m := re.fullmatch(r"asof(\d+)_fu_link_post", n))
        and int(m.group(1)) < s2
    )
    advances = _record_advances(monkeypatch, "advance_text_index")
    post2, _, _ = api.asof_family_text_index(spark, sf_dir, "/u/link", s2)
    monkeypatch.undo()
    assert advances == [(nearest, s2)]
    flog = ingest.cdc_field_log(tpch.fields_multi(spark, sf_dir)).filter(
        F.col("field_key") == "/u/link"
    )
    scratch = bm25_ops.postings(
        ingest.cdc_live_fielded(flog.filter(F.col("seq") <= s2)).select(
            "rid", "text"
        )
    )
    assert {tuple(r) for r in post2.collect()} == {
        tuple(r) for r in scratch.collect()
    }


@pytest.mark.slow  # r15 slow tier: multi-cut as-of behavior sweep
def test_asof_live_state_chains_for_every_family(spark, sf_dir, monkeypatch):
    """api.asof_live_state: the vector/relation/label/fielded live
    states chain from the nearest durable earlier snapshot (the
    advance reads only the delta from it) and equal the from-scratch
    seq-cut resolution exactly — the text-index advance contract
    extended to every latest-op-wins plane the find API reads at a
    snapshot."""
    from pyspark.sql import functions as F

    from nucliadb_spark.functions import models
    from nucliadb_spark.streaming import ingest

    fams = {
        "vectors": (
            lambda: ingest.cdc_vector_log(tpch.vectors(spark, sf_dir)),
            ingest.cdc_live_vectors,
            ("rid",),
        ),
        "relations": (
            lambda: ingest.cdc_relation_log(tpch.relations(spark, sf_dir)),
            ingest.cdc_live_relations,
            tuple(ingest._EDGE_COLS),
        ),
        "labels": (
            lambda: ingest.cdc_label_log(
                tpch.fields(spark, sf_dir).select("rid", "labels")
            ),
            ingest.cdc_live_labels,
            ("rid",),
        ),
        "fielded_live": (
            lambda: ingest.cdc_field_log(tpch.fields_multi(spark, sf_dir)),
            ingest.cdc_live_fielded,
            ("rid", "field_id"),
        ),
        # the rephrase sidecar: embeddings are pure functions of text
        # versions, so the embed pass advances like any live state
        "stub_embeddings": (
            lambda: ingest.cdc_log(tpch.fields(spark, sf_dir)),
            lambda log: ingest.cdc_live_fields(log).select(
                "rid", models.stub_embedding(F.col("text")).alias("embedding")
            ),
            ("rid",),
        ),
        # the r13 metadata plane (security/extra/origin) chains too
        "meta": (
            lambda: ingest.cdc_meta_log(tpch.fields(spark, sf_dir)),
            ingest.cdc_live_meta,
            ("rid",),
        ),
    }
    from nucliadb_spark import serving

    s1, s2 = 850_000, 1_250_000
    for fam, (log_builder, resolve, keys) in fams.items():
        api.asof_live_state(
            spark, sf_dir, fam, s1, log_builder, resolve, keys
        )  # seed the chain
        # the chain picks the NEAREST durable earlier snapshot; other
        # tests/queries in the session may have written one between
        nearest = serving._nearest_state(spark, sf_dir, fam, s2)
        assert nearest >= s1  # the seed guarantees at least one prior
        advances = _record_advances(monkeypatch, "advance_live_state")
        state2 = api.asof_live_state(
            spark, sf_dir, fam, s2, log_builder, resolve, keys
        )
        monkeypatch.undo()
        assert advances == [(nearest, s2)], fam
        scratch = resolve(log_builder().filter(F.col("seq") <= s2))
        assert {tuple(map(str, r)) for r in state2.collect()} == {
            tuple(map(str, r)) for r in scratch.collect()
        }, fam


def test_as_of_rephrase_semantic_tracks_text_versions(spark, sf_dir):
    """as_of × rephrase (r11, the last lifted rejection): the
    semantic leg embeds the corpus's TEXT VERSIONS at the seq, so the
    ranking changes across the revision wave (revised docs embed
    revised text) and deleted-later docs still rank at the standard
    snapshot."""
    def hits(seq):
        req = api.FindRequest(
            query="the refreshed revision stream",
            features=["semantic"],
            rephrase=True,
            top_k=10,
            window=20,
            as_of=seq,
        )
        return [(r.id, r.score) for r in api.find_request(spark, sf_dir, req).collect()]

    pre = hits(999_999)   # before the rid%7 revision wave
    post = hits(1_500_000)  # revisions in, deletes not
    assert pre and post and pre != post
    # deleted-later docs (rid%11) are still candidates at this seq —
    # exact membership of the top-k is pinned by the driver oracle;
    # here we pin that the snapshot ranking is reproducible
    assert hits(1_500_000) == post


@pytest.mark.slow  # r15 slow tier: multi-cut as-of behavior sweep
def test_as_of_boundary_seqs_degrade_gracefully(spark, sf_dir):
    """MVCC boundary semantics, exact: a pre-history seq serves only
    ops at or before it (seq 0 = the rid-0 base insert alone, not an
    error, not an empty crash), and a far-future seq equals the log
    head."""
    def run(as_of, feats=("keyword", "semantic")):
        req = api.FindRequest(
            query="refreshed revision stream",
            features=list(feats),
            top_k=5,
            window=10,
            query_vec_id=5,
            as_of=as_of,
        )
        return api.find_request(spark, sf_dir, req).collect()

    first = run(0)
    assert [r.id for r in first] == [0]  # only rid 0 exists at seq 0
    future = run(10_000_000)
    head = run(3_000_000)
    assert [(r.id, r.score) for r in future] == [(r.id, r.score) for r in head]


def test_security_param_equals_security_filter(spark, sf_dir):
    """The dedicated security param (the reference's RequestSecurity)
    must be exactly a SecurityFilter ANDed into the tree — same
    results as passing the filter explicitly, live and at a
    snapshot, and composing with an existing filter tree."""
    from nucliadb_spark.operators.filters import And, Facet, SecurityFilter

    groups = ["group-2", "group-5"]

    def ids(**kw):
        req = api.FindRequest(
            query="refreshed revision stream",
            features=["keyword"],
            top_k=30,
            window=30,
            **kw,
        )
        return [(r.id, r.score) for r in api.find_request(spark, sf_dir, req).collect()]

    assert ids(security_groups=groups) == ids(
        filters=SecurityFilter(groups=groups)
    )
    assert ids(security_groups=groups, as_of=1_500_000) == ids(
        filters=SecurityFilter(groups=groups), as_of=1_500_000
    )
    assert ids(security_groups=groups, filters=Facet("/s/p/en")) == ids(
        filters=And([Facet("/s/p/en"), SecurityFilter(groups=groups)])
    )


def test_suggest_filtered_hits_satisfy_filter(spark, sf_dir):
    """Every filtered-suggest hit must satisfy the filter tree, and
    the filter must actually bite (some unfiltered hit is excluded)."""
    from nucliadb_spark.plans.queries_text import (
        _suggest_filter,
        suggest_filtered,
        suggest_paragraphs,
    )

    hits = {r.rid for r in suggest_filtered(spark, sf_dir).collect()}
    allowed = {
        r.rid
        for r in tpch.fields(spark, sf_dir)
        .filter(_suggest_filter().to_column())
        .select("rid")
        .collect()
    }
    assert hits and hits <= allowed
    unfiltered = {r.rid for r in suggest_paragraphs(spark, sf_dir).collect()}
    assert unfiltered - allowed  # the tree excludes some live hits


def test_graph_path_filtered_provenance_respects_filter(spark, sf_dir):
    """Every filtered graph hit's provenance resource satisfies the
    filter + security tree; the unfiltered path search has hits the
    filter removes."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators import graph as G
    from nucliadb_spark.plans.queries_graph import (
        _FILTERED_PATH_Q,
        _GRAPH_FILTER,
        graph_path_filtered,
    )

    rows = graph_path_filtered(spark, sf_dir).collect()
    assert rows
    allowed = {
        r.rid
        for r in tpch.fields(spark, sf_dir)
        .filter(_GRAPH_FILTER.to_column())
        .select("rid")
        .collect()
    }
    rel = tpch.relations(spark, sf_dir)
    prov = {
        (r.source_value, r.relation_label, r.target_value): int(
            r.paragraph_id.split("/")[0]
        )
        for r in rel.filter(F.col("paragraph_id").isNotNull()).collect()
    }
    for r in rows:
        key = (r.source_value, r.relation_label, r.target_value)
        assert prov[key] in allowed, key
    unfiltered = G.path_search(rel, _FILTERED_PATH_Q, top_k=50).collect()
    un_keys = {(r.source_value, r.relation_label, r.target_value) for r in unfiltered}
    f_keys = {(r.source_value, r.relation_label, r.target_value) for r in rows}
    assert un_keys - f_keys  # the filter removed something


def test_live_scoped_find_accepts_static_filters(spark, sf_dir):
    """Regression: a `fields`-scoped LIVE request with a static
    predicate (created range / security) evaluates the tree against
    the fielded corpus — fields_multi must carry the same static
    Basic/Extra metadata as `fields` (the join contract), or the
    filter compiler raises UNRESOLVED_COLUMN."""
    from nucliadb_spark.operators.filters import And, DateRange, SecurityFilter

    req = api.FindRequest(
        query="merge stream window",
        features=["keyword"],
        top_k=8,
        fields=["a/title"],
        filters=And(
            [
                DateRange("created", since="2024-02-01 00:00:00"),
                SecurityFilter(groups=["group-1", "group-2"]),
            ]
        ),
    )
    rows = api.find_request(spark, sf_dir, req).collect()
    assert rows
    allowed = {
        r.rid
        for r in tpch.fields(spark, sf_dir)
        .filter(req.filters.to_column())
        .select("rid")
        .collect()
    }
    assert {r.id for r in rows} <= allowed


def test_as_of_fields_meta_filter_quadruple_composes(spark, sf_dir):
    """fields × METADATA filter × as_of in one request: the scope
    resolves from the seq-cut fielded log, the security predicate
    from the seq-cut metadata log, the corpora cut at the seq —
    every hit owns a scoped field at the snapshot AND satisfies the
    predicate at the snapshot."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators.filters import SecurityFilter
    from nucliadb_spark.streaming import ingest

    sec = SecurityFilter(groups=["group-2", "group-5"])
    seq = 1_500_000
    req = api.FindRequest(
        query="refreshed revision stream",
        features=["keyword"],
        top_k=30,
        window=30,
        fields=["u/link"],
        as_of=seq,
        filters=sec,
    )
    hits = {r.id for r in api.find_request(spark, sf_dir, req).collect()}
    assert hits
    meta = ingest.cdc_live_meta(
        ingest.cdc_meta_log(tpch.fields(spark, sf_dir)).filter(
            F.col("seq") <= seq
        )
    )
    allowed = {
        r.rid for r in meta.filter(sec.to_column()).select("rid").collect()
    }
    flog = ingest.cdc_field_log(tpch.fields_multi(spark, sf_dir)).filter(
        F.col("field_key") == "/u/link"
    )
    scoped = {
        r.rid
        for r in ingest.cdc_live_fielded(flog.filter(F.col("seq") <= seq))
        .select("rid")
        .collect()
    }
    assert hits <= (allowed & scoped)


def test_request_plan_memo_reuses_plan_not_results(spark, sf_dir):
    """r15 construct-overhead memo: the SAME request value returns
    the same built plan handle (analysis paid once); a different
    request builds its own; values are identical to a fresh build."""
    from nucliadb_spark import api

    req = lambda: api.FindRequest(  # noqa: E731 — fresh object each call
        query="europe asia shipment", features=["keyword"], top_k=5
    )
    a = api.find_request(spark, sf_dir, req())
    b = api.find_request(spark, sf_dir, req())
    assert a is b  # memo hit on an equal-valued fresh request object
    other = api.find_request(
        spark, sf_dir, api.FindRequest(query="europe asia shipment",
                                       features=["keyword"], top_k=7)
    )
    assert other is not a
    # plan handle reuse is NOT result caching: collect re-executes
    assert a.collect() == api._build_find_request(
        spark, sf_dir, req()
    ).collect()
