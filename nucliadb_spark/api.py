"""Public request API: the reference's FindRequest surface
(nucliadb_models/search.py FindRequest — features, filters, top_k,
min_score, rank fusion, reranker) executed Spark-first.

This is the layer a nucliadb user would call after switching: one
dataclass in, one DataFrame out, with the reference's planner rules
applied (feature pruning T7, window algebra O6/O7, single-source
fusion skip R3, legacy filter translation F8, reranker R5).
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from nucliadb_spark.functions import frames, models
from nucliadb_spark.operators import bm25, fusion, knn
from nucliadb_spark.operators.filters import Expr
from nucliadb_spark.plans import planner
from nucliadb_spark.sources import tpch

FEATURES = ("keyword", "semantic", "graph")

# nucliadb_models/search.py:1184-1190 — the field types a `fields`
# scope may name ("a/title", "t/body", ...)
ALLOWED_FIELD_TYPES = {
    "t": "text",
    "f": "file",
    "u": "link",
    "c": "conversation",
    "a": "generic",
}


def normalize_fields(fields: list[str]) -> list[str]:
    """The `fields` param validator, rule-for-rule
    (nucliadb_models/search.py:1204-1222): accept a legacy leading
    '/', require '{field_type}/{field_name}', reject unknown types."""
    out = []
    for f_ in fields:
        f_ = f_.strip("/")
        try:
            ftype, _ = f_.split("/")
        except ValueError:
            raise ValueError(
                f"Field '{f_}' is not in the format {{field_type}}/{{field_name}}"
            )
        if ftype not in ALLOWED_FIELD_TYPES:
            allowed = ", ".join(
                f"'{k}' for '{v}' fields" for k, v in ALLOWED_FIELD_TYPES.items()
            )
            raise ValueError(
                f"Field '{f_}' does not have a valid field type. "
                f"Valid field types are: {allowed}."
            )
        out.append(f_)
    return out


def _without_prequeries(req: "FindRequest") -> "FindRequest":
    from dataclasses import replace

    return replace(req, prequeries=None)


# the corpus model's genuinely IMMUTABLE per-resource columns:
# identity written exactly once (resource/field identity, creation
# date — resources.proto:58-95), never revised by ANY write, hence
# snapshot-independent. Everything else the reference can PATCH on
# resource update is deliberately NOT here, even when this fixture
# happens never to revise it — the classification encodes the
# semantics, not the fixture (the standard that moved `modified`/
# `n_chars` out in r12 and security/extra/origin out in r13:
# UpdateResourcePayload PATCHes security, extra and origin —
# nucliadb_models/src/nucliadb_models/writer.py:155-169).
_STATIC_COLS = frozenset(
    {
        "rid",
        "kbid",
        "field_type",
        "field_id",
        "field_key",
        "created",
    }
)

# the resource-METADATA plane: security/extra/origin attributes the
# reference revises via PATCH. Versioned-in-principle, resolved at a
# snapshot from the metadata op log (ingest.cdc_meta_log — the
# fixture's lockdown wave revises security at seq rid+1e6) with the
# same rid-keyed latest-op-wins every CDC family pays.
_META_COLS = frozenset(
    {"security_public", "security_groups", "extra", "source", "language"}
)

# the DERIVED plane (r14 — the last filter rejection lifted):
# `modified` and `n_chars` are versioned state with NO op log of
# their own, but both are PURE FUNCTIONS of the content log the
# engine already keeps — modified at seq S = the commit timestamp of
# the rid's last op <= S (nidx sorts/ranges on modified as an index
# fast field, nidx/nidx_text/src/schema.rs:62-64), n_chars = the
# length of the as-of text version. ingest.cdc_live_derived computes
# the plane during resolution; the same-named static fields columns
# are today's denormalized catalog copies and never enter an as-of
# tree.
_DERIVED_COLS = frozenset({"modified", "n_chars"})


def _filter_planes(expr: Expr) -> set[str]:
    """Classify every leaf of a filter tree by the state plane it
    reads, for the as_of composition rules:

    - ``'label'`` — a Facet over ``labels``: VERSIONED state whose op
      log (cdc_label_log, with before-images) gives it a snapshot
      identity, so it resolves AS OF a seq.
    - ``'meta'`` — security/extra/origin attributes: VERSIONED
      resource metadata (the reference PATCHes them on update,
      writer.py:155-169) resolved from the seq-cut metadata op log
      (ingest.cdc_meta_log) and joined to the tree's frame by rid.
    - ``'text'`` — a Keyword predicate over ``text``: versioned
      CONTENT state whose op log (ingest.cdc_log) gives every text
      version a snapshot identity — the keyword evaluates against
      the seq-cut content state, exactly the corpus the scoring legs
      already search at the snapshot.
    - ``'static'`` — genuinely immutable identity metadata (creation
      date, resource/field identity): corpus MEMBERSHIP at the
      snapshot comes from the content op log, the attribute itself
      joins by rid.
    - ``'derived'`` — ``modified``/``n_chars``: versioned state with
      no op log of its own but DERIVABLE from the content log
      (modified = the last op's commit timestamp at the cut, n_chars
      = the as-of text length — ingest.cdc_live_derived), so it has
      snapshot identity after all. r14: the last rejection lifted.
    - ``'versioned'`` — anything reading versioned state with NO op
      log in this corpus model, or an unknown leaf: no snapshot
      identity, the composition must raise.

    And/Or/Not union their operands' planes, so a mixed tree is
    answerable iff no leaf is 'versioned'.
    """
    from nucliadb_spark.operators.filters import (
        And,
        DateRange,
        Facet,
        FieldEquals,
        JsonPath,
        Keyword,
        Not,
        NotHidden,
        NumericRange,
        Or,
        PrefixMatch,
        ResourceIs,
        SecurityFilter,
    )

    if isinstance(expr, (And, Or)):
        return set().union(*(_filter_planes(e) for e in expr.operands))
    if isinstance(expr, Not):
        return _filter_planes(expr.operand)
    if isinstance(expr, Facet):
        return {"label"} if expr.column == "labels" else {"versioned"}
    if isinstance(expr, Keyword):
        # text keywords evaluate against the seq-cut CONTENT state —
        # the content op log gives text versions a snapshot identity
        return {"text"} if expr.column == "text" else {"versioned"}
    if isinstance(expr, SecurityFilter):
        cols: tuple[str, ...] = (expr.public_column, expr.groups_column)
    elif isinstance(
        expr,
        (
            DateRange,
            ResourceIs,
            FieldEquals,
            PrefixMatch,
            NumericRange,
            NotHidden,
            JsonPath,
        ),
    ):
        cols = (expr.column,)
    else:
        return {"versioned"}  # unknown leaf — be honest, reject
    if all(c in _STATIC_COLS for c in cols):
        return {"static"}
    if all(c in _STATIC_COLS | _META_COLS for c in cols):
        return {"meta"}
    if all(c in _STATIC_COLS | _DERIVED_COLS for c in cols):
        return {"derived"}
    return {"versioned"}


@dataclass
class FindRequest:
    query: str
    features: list[str] = field(default_factory=lambda: ["keyword", "semantic"])
    top_k: int = 10
    window: int = 50
    # the reference's MinScore model splits thresholds per index
    # (nucliadb_models/search.py:786-797): `semantic` cuts the vector
    # leg, `bm25` (default 0) cuts the keyword leg
    min_score: float | None = None
    min_score_bm25: float = 0.0
    filters: Expr | None = None
    legacy_filters: planner.LegacyFilters | None = None
    synonyms: dict[str, list[str]] | None = None
    fusion_weights: dict[str, float] | None = None
    reranker: str = "noop"  # noop | stub
    # Predict rephrase (ref search/search/query.py:78-79): rewrite the
    # query before embedding — semantic leg only, keyword unchanged
    rephrase: bool = False
    query_vec_id: int = 0
    entity_sources: list[str] | None = None
    # the `fields` search scope ("a/title" searches only title
    # fields — nucliadb_models/search.py:461-468, validated as
    # :1204-1222). Scopes the keyword leg to the named field
    # families' OWN corpus/stats (tantivy field-scoped postings);
    # semantic/graph legs semijoin to resources owning such a field
    # (vectors here are resource-keyed).
    fields: list[str] | None = None
    # prequeries RAG strategy (ref: nucliadb_models/search.py
    # PreQueriesStrategy): preliminary retrievals whose results fuse
    # with the main query's under per-query weights
    prequeries: list[tuple["FindRequest", float]] | None = None
    # snapshot-consistent retrieval: resolve EVERY leg's corpus AS OF
    # this log sequence (the MVCC reproducible-read primitive the
    # per-family search_as_of/knn_as_of/graph_as_of queries expose,
    # threaded through the full find pipeline). The reference cannot
    # do this — its indexer applies ops destructively past the seq
    # guard (nidx/src/indexer.rs:121-253); a training-data pipeline
    # must ("re-run this retrieval as it stood at snapshot S").
    as_of: int | None = None
    # the reference's dedicated security param (RequestSecurity —
    # nucliadb_models/search.py; applied by nidx as security_query,
    # nidx/nidx_text/src/search_query.rs:66-90): visible if public OR
    # any requested group matches. Folds into the filter tree as an
    # AND (its exact semantics), so it composes with everything
    # filters do — including as_of via the metadata-plane op log
    # (security is PATCHable, so at a snapshot it resolves from the
    # seq-cut metadata log, not today's groups).
    security_groups: list[str] | None = None
    # keyset pagination through the fused ranking (O5 applied to the
    # flagship — ref nodereader.proto:382-386 + search/search/
    # search_after.py): the (score, id) cursor is the previous page's
    # last row; the next page is a pushed-down predicate over the
    # fusion-window candidates, so page depth never changes the cost
    # (the window bound IS the pageable depth, the reference's O6
    # window-cut semantics).
    search_after: tuple[float, int] | None = None


def asof_text_index(
    spark: SparkSession, sf_dir: str, fields: DataFrame, as_of: int
):
    """(post, stats, corpus) — the text index AS OF a log seq,
    session-cached per snapshot. The first request at a NEW snapshot
    does not rebuild from scratch: if any EARLIER snapshot's postings
    are cached, the nearest one advances with only the ops in
    (S1, as_of] (ingest.advance_text_index — untouched rids keep
    their postings via an rid anti-join, touched rids re-tokenize
    from their final delta version). Measured at a 100× corpus the
    advance costs 0.13× of the from-scratch build (SCALE.md r11
    addendum), and a session touring snapshots pays
    delta-proportional cold per seq. Falls back to the from-scratch
    build when no earlier snapshot is cached (the first snapshot of
    the session).

    No cached as-of sidecar reads the serving log: Spark drops the
    cached buffers of every persisted plan that reads a path it then
    writes to, so a sidecar with ``serving.log_between`` in its
    lineage is un-cached by the next drain into the log, and the next
    read rebuilds the whole chain back to the first snapshot (or,
    after ``serving.purge_log``, reads deleted partitions). The
    advanced postings and stats are therefore materialized with an
    eager ``localCheckpoint`` before they are cached, and the
    from-scratch build reads the durable ``serving.state_as_of``
    artifact."""
    import re

    from nucliadb_spark import serving
    from nucliadb_spark.cache import cached_df, cached_names
    from nucliadb_spark.streaming import ingest

    def log_builder() -> DataFrame:
        return ingest.cdc_log(fields)

    def corpus_at(seq: int) -> DataFrame:
        # the content family's DURABLE as-of state on the physical
        # substrate — the same artifact the text filter plane and the
        # graph membership read, vacuum-aware (below-horizon raises)
        return serving.state_as_of(
            spark,
            sf_dir,
            "content_text",
            log_builder,
            ingest.cdc_live_fields,
            ("rid",),
            seq,
        )

    serving.check_horizon(spark, sf_dir, "content_text", as_of)
    hzn = serving.horizon(spark, sf_dir, "content_text")
    advanced: dict[str, DataFrame] = {}

    def build_post() -> DataFrame:
        priors = [
            int(m.group(1))
            for n in cached_names(spark, sf_dir)
            if (m := re.fullmatch(r"asof(\d+)_text_post", n))
            and hzn <= int(m.group(1)) < as_of
        ]
        if priors:
            s1 = max(priors)  # nearest earlier snapshot → smallest delta
            prior_post = cached_df(
                sf_dir,
                f"asof{s1}_text_post",
                lambda: bm25.postings(corpus_at(s1)),
                spark=spark,
            )
            prior_stats = cached_df(
                sf_dir,
                f"asof{s1}_text_stats",
                lambda: bm25.doc_stats_from_postings(prior_post),
                spark=spark,
            )
            post2, stats2 = ingest.advance_text_index(
                prior_post,
                prior_stats,
                # both ends of the delta prune on the physical log
                serving.log_between(
                    spark, sf_dir, "content_text", log_builder, s1, as_of
                ),
            )
            # the advance derives stats incrementally too (kept rows
            # verbatim + delta stats) — hand them to the stats sidecar
            # instead of re-deriving from the advanced postings. Both
            # are checkpointed: the cached sidecar must not read the log
            advanced["stats"] = stats2.localCheckpoint(eager=True)
            return post2.localCheckpoint(eager=True)
        return bm25.postings(corpus_at(as_of))

    post = cached_df(sf_dir, f"asof{as_of}_text_post", build_post, spark=spark)
    stats = cached_df(
        sf_dir,
        f"asof{as_of}_text_stats",
        lambda: advanced.get("stats") or bm25.doc_stats_from_postings(post),
        spark=spark,
    )
    corpus = cached_df(
        sf_dir,
        f"asof{as_of}_text_corpus",
        lambda: bm25.corpus_stats(stats),
        spark=spark,
    )
    return post, stats, corpus


def asof_family_text_index(
    spark: SparkSession, sf_dir: str, key: str, as_of: int
):
    """(post, stats, corpus) for ONE field family AS OF a log seq —
    the per-(snapshot, family) sidecars the scoped snapshot flagship
    serves from, with the same chain-from-the-nearest-cached-snapshot
    advance :func:`asof_text_index` gives the unscoped path. Within
    one family the fielded op log is rid-keyed (one field of that
    family per resource), so advance_text_index applies verbatim to
    the family-filtered log: untouched resources keep their S1
    family postings, touched ones re-tokenize from their final delta
    version. Like the unscoped index, the chained sidecars are
    checkpointed so none of them reads the serving log."""
    import re

    from nucliadb_spark import serving
    from nucliadb_spark.cache import cached_df, cached_names
    from nucliadb_spark.streaming import ingest

    slug = key.strip("/").replace("/", "_")

    def log_builder() -> DataFrame:
        return ingest.cdc_field_log(tpch.fields_multi(spark, sf_dir))

    def fam_at(seq: int) -> DataFrame:
        # the fielded family's DURABLE as-of state (shared with the
        # scope-resolution path — same (family, seq) artifact),
        # filtered to this field family. Within one family a field's
        # key never changes, so filtering the resolved state by
        # field_key equals resolving the family-filtered log.
        return (
            serving.state_as_of(
                spark,
                sf_dir,
                "fielded_live",
                log_builder,
                ingest.cdc_live_fielded,
                ("rid", "field_id"),
                seq,
                log_name="fielded",
            )
            .filter(F.col("field_key") == key)
            .select("rid", "text")
        )

    serving.check_horizon(spark, sf_dir, "fielded_live", as_of)
    hzn = serving.horizon(spark, sf_dir, "fielded_live")

    def fam_delta(lo: int, hi: int) -> DataFrame:
        return serving.log_between(
            spark, sf_dir, "fielded", log_builder, lo, hi
        ).filter(F.col("field_key") == key)

    advanced: dict[str, DataFrame] = {}

    def build_post() -> DataFrame:
        pat = re.compile(rf"asof(\d+)_f{re.escape(slug)}_post")
        priors = [
            int(m.group(1))
            for n in cached_names(spark, sf_dir)
            if (m := pat.fullmatch(n)) and hzn <= int(m.group(1)) < as_of
        ]
        if priors:
            s1 = max(priors)
            prior_post = cached_df(
                sf_dir,
                f"asof{s1}_f{slug}_post",
                lambda: bm25.postings(fam_at(s1)),
                spark=spark,
            )
            prior_stats = cached_df(
                sf_dir,
                f"asof{s1}_f{slug}_stats",
                lambda: bm25.doc_stats_from_postings(prior_post),
                spark=spark,
            )
            post2, stats2 = ingest.advance_text_index(
                prior_post,
                prior_stats,
                fam_delta(s1, as_of),
            )
            advanced["stats"] = stats2.localCheckpoint(eager=True)
            return post2.localCheckpoint(eager=True)
        return bm25.postings(fam_at(as_of))

    post = cached_df(sf_dir, f"asof{as_of}_f{slug}_post", build_post, spark=spark)
    stats = cached_df(
        sf_dir,
        f"asof{as_of}_f{slug}_stats",
        lambda: advanced.get("stats") or bm25.doc_stats_from_postings(post),
        spark=spark,
    )
    corpus = cached_df(
        sf_dir,
        f"asof{as_of}_f{slug}_corpus",
        lambda: bm25.corpus_stats(stats),
        spark=spark,
    )
    return post, stats, corpus


def stub_embed_live(log: DataFrame) -> DataFrame:
    """The stub-embedding family's resolve over a content op log:
    latest-op-wins text, embedded deterministically (embeddings are
    pure functions of text versions — the refresh capstone's
    re-embed contract). Module-level so the serving substrate's
    vacuum can fold the family's base with the SAME resolve the
    rephrased find leg serves with."""
    from nucliadb_spark.streaming import ingest

    return ingest.cdc_live_fields(log).select(
        "rid",
        models.stub_embedding(F.col("text")).alias("embedding"),
    )


def asof_live_state(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    as_of: int,
    log_builder,
    resolve,
    keys: tuple[str, ...],
    log_name: str | None = None,
) -> DataFrame:
    """A CDC family's live state AS OF a log seq, session-cached as
    ``asof{seq}_{family}`` over the family's durable serving artifact
    (:func:`serving.state_as_of`). A NEW snapshot is CHAINED: the
    substrate advances the nearest durable earlier snapshot with only
    the (prior, seq] partition-pruned delta (ingest.advance_live_state)
    instead of re-resolving the full log, so a session touring
    snapshots pays full-log cost once, not once per (seq, family) —
    the delta-proportional cold-cost contract of the text index,
    extended to every latest-op-wins plane the find API reads at a
    snapshot (vectors, relations, labels, the fielded corpus).

    The cached frame reads the parquet artifact, never the serving
    log: Spark drops the cached buffers of every persisted plan that
    reads a path it then writes to, so a sidecar over the log would
    be un-cached by each drain and recomputed from partitions a purge
    may have deleted. Reads below the family's vacuum horizon raise
    the pinned-snapshot error — surfaced through FindRequest because
    every as-of entry point routes here. `log_name` names the
    physical log when families share one (the embedding sidecar reads
    the content log)."""
    from nucliadb_spark import serving
    from nucliadb_spark.cache import cached_df

    serving.check_horizon(spark, sf_dir, family, as_of)
    return cached_df(
        sf_dir,
        f"asof{as_of}_{family}",
        lambda: serving.state_as_of(
            spark, sf_dir, family, log_builder, resolve, keys, as_of,
            log_name=log_name,
        ),
        spark=spark,
    )


# Request-plan memo (r15, guide §5 driver overhead): building a
# flagship request's DataFrame costs 50-200 ms of pure driver work
# (plane classification, scope resolution, leg assembly, analysis) —
# at ~1 s serving latencies that is 10-20% fixed overhead paid again
# for every repeat of the SAME request. The memo stores the BUILT
# plan handle keyed on the full request VALUE (dataclass repr — every
# field of FindRequest and its nested filter/prequery trees), the
# sf_dir and the Spark application id, so it works for any request
# shape, never outlives the session, and never stores results: every
# collect() re-executes the plan against the parquet inputs.
_REQUEST_MEMO: OrderedDict[tuple[str, str, str], DataFrame] = OrderedDict()
_REQUEST_MEMO_MAX = 256


def find_request(spark: SparkSession, sf_dir: str, req: FindRequest) -> DataFrame:
    """Execute a FindRequest → (id, score, matched_sources)."""
    key = (spark.sparkContext.applicationId, sf_dir, repr(req))
    hit = _REQUEST_MEMO.get(key)
    if hit is not None:
        _REQUEST_MEMO.move_to_end(key)
        return hit
    df = _build_find_request(spark, sf_dir, req)
    _REQUEST_MEMO[key] = df
    while len(_REQUEST_MEMO) > _REQUEST_MEMO_MAX:
        _REQUEST_MEMO.popitem(last=False)
    return df


def _build_find_request(
    spark: SparkSession, sf_dir: str, req: FindRequest
) -> DataFrame:
    if req.prequeries:
        # the cursor would otherwise be applied to the INNER main-leg
        # ranking and then re-ranked by the outer weighted RRF — page
        # 2 would not tile the fused ranking, so the combination is
        # rejected (same contract as search_after + reranker below)
        if req.search_after is not None:
            raise ValueError(
                "search_after pages a single fused ranking; prequeries "
                "re-fuse results after the cursor would apply"
            )
        # each prequery retrieves independently; a final weighted RRF
        # fuses the main result with every prequery result
        main = find_request(
            spark, sf_dir, _without_prequeries(req)
        ).select("id", "score")
        sources = {"main": main}
        weights = {"main": 1.0}
        for i, (pre, w) in enumerate(req.prequeries):
            name = f"pre_{i}"
            sources[name] = find_request(
                spark, sf_dir, _without_prequeries(pre)
            ).select("id", "score")
            weights[name] = w
        return fusion.rrf(sources, weights=weights, top_k=req.top_k)
    # F8: legacy filters fold into the filter tree
    filters = req.filters
    legacy = planner.translate_old_filters(req.legacy_filters) if req.legacy_filters else None
    if legacy is not None:
        from nucliadb_spark.operators.filters import And

        filters = legacy if filters is None else And([filters, legacy])
    # F5: the dedicated security param ANDs into the same tree
    if req.security_groups is not None:
        from nucliadb_spark.operators.filters import And, SecurityFilter

        sec = SecurityFilter(groups=list(req.security_groups))
        filters = sec if filters is None else And([filters, sec])

    # T7: exact-match / empty queries disable semantic retrieval
    features = list(req.features)
    if "semantic" in features and planner.should_disable_vector_search(req.query):
        features.remove("semantic")

    win = planner.fusion_window(req.window, req.top_k)
    fields = tpch.fields(spark, sf_dir)
    sources: dict[str, DataFrame] = {}

    # snapshot-consistent retrieval: one as_of seq resolves EVERY
    # leg's corpus (text / vector / relation op logs cut at the same
    # point, the per-leg resolution being the identical single
    # max_by shuffle the live CDC reads pay). A `fields` scope
    # composes: the fielded op log carries field_key, so the scoped
    # field-key set resolves AS OF the same seq (below). Label/facet
    # filters compose too (r11): the label op log with before-images
    # gives label state a snapshot identity, so a filter tree whose
    # every leaf is a Facet resolves from the seq-cut label log —
    # the reference's prefilter semantics
    # (nidx/nidx_text/src/reader.rs:148-180) at a snapshot the
    # reference cannot express. Every other filter plane composes via
    # its own op log as of r13 (_filter_planes): security/extra/
    # origin from the metadata log (the reference PATCHes them,
    # writer.py:155-169 — a lockdown after the snapshot must not
    # hide what the snapshot could see), text keywords from the
    # content log, immutable identity predicates (dates) by rid;
    # only op-log-less versioned state stays rejected rather than
    # silently answered against mixed snapshots.
    as_of = req.as_of
    # as_of × rephrase composes (r11): the rewrite is a pure function
    # of the query text and the doc embeddings are a pure function of
    # each doc's TEXT VERSION (a pinned model — the refresh capstone's
    # re-embed contract), so the semantic leg embeds the AS-OF corpus
    # and nothing mixes snapshots. With every composition lifted,
    # FindRequest.as_of now composes with the full request surface.
    # as_of × entity_sources composes (r11, made honest in r13):
    # corpus MEMBERSHIP at the snapshot resolves from the content op
    # log, and the source attribute — PATCHable origin metadata —
    # resolves from the seq-cut metadata op log rather than joining
    # today's values by rid.
    planes: set[str] = set()
    if as_of is not None and filters is not None:
        planes = _filter_planes(filters)
        if "versioned" in planes:
            raise ValueError(
                "as_of composes with label/facet filters, security/"
                "extra/origin metadata (resolved from the metadata op "
                "log), text keywords and modified/n_chars (resolved "
                "or derived from the content op log) and immutable "
                "identity predicates (dates); predicates over state "
                "with no op log in this corpus model have no snapshot "
                "identity"
            )
    # the snapshot-resolved prefilter: allowed rids = the filter tree
    # evaluated against a frame that carries each plane's state AT
    # the seq — label state from the seq-cut label op log, security/
    # extra/origin from the seq-cut metadata op log, text keywords
    # from the seq-cut content op log (each session-cached per
    # snapshot like every other as-of sidecar), immutable identity
    # attributes (created, field identity) from the fields frame by
    # rid. All planes are RESOURCE-grain — the reference's grain too
    # (the pg catalog keys facets by resource, catalog/pg.py:72-107)
    # — so the same allowed set serves scoped and unscoped requests
    # alike and the full triple (as_of × fields × filters) composes:
    # scope from the seq-cut fielded log, filter from the seq-cut
    # plane logs + identity metadata, corpus from the seq-cut content
    # logs, one seq everywhere. A static-only tree skips plane
    # resolution entirely (one filter over the fields frame;
    # membership at the seq is enforced by each leg's as-of corpus),
    # a single-plane tree filters that plane's state directly, and a
    # mixed tree joins the planes' states by rid before the unchanged
    # filter compiler evaluates the WHOLE tree — And/Or/Not across
    # planes need no decomposition.
    asof_allowed = None
    if as_of is not None and filters is not None:
        if planes == {"static"}:
            asof_allowed = fields.filter(filters.to_column()).select("rid")
        else:
            from nucliadb_spark.streaming import ingest

            # each versioned plane the tree reads resolves AS OF the
            # same seq from ITS op log (session-cached + chained via
            # asof_live_state); a mixed tree joins the planes' states
            # by rid into ONE frame and the unchanged filter compiler
            # evaluates the whole tree over it — And/Or/Not across
            # planes need no decomposition.
            states: dict[str, DataFrame] = {}
            if "label" in planes:
                states["label"] = asof_live_state(
                    spark,
                    sf_dir,
                    "labels",
                    as_of,
                    lambda: ingest.cdc_label_log(
                        tpch.fields(spark, sf_dir).select("rid", "labels")
                    ),
                    ingest.cdc_live_labels,
                    ("rid",),
                )
            if "meta" in planes:
                states["meta"] = asof_live_state(
                    spark,
                    sf_dir,
                    "meta",
                    as_of,
                    lambda: ingest.cdc_meta_log(fields),
                    ingest.cdc_live_meta,
                    ("rid",),
                )
            if "text" in planes:
                states["text"] = asof_live_state(
                    spark,
                    sf_dir,
                    "content_text",
                    as_of,
                    lambda: ingest.cdc_log(fields),
                    ingest.cdc_live_fields,
                    ("rid",),
                )
            if "derived" in planes:
                # modified/n_chars derive from the CONTENT log — the
                # same physical log the text plane and keyword corpus
                # read, a different resolve (log_name shares it)
                states["derived"] = asof_live_state(
                    spark,
                    sf_dir,
                    "derived",
                    as_of,
                    lambda: ingest.cdc_log(fields),
                    ingest.cdc_live_derived,
                    ("rid",),
                    log_name="content_text",
                )
            if len(states) == 1 and "static" not in planes:
                # single-plane tree: filter the plane's state directly
                snap = next(iter(states.values()))
            else:
                # mixed tree: immutable identity columns from the
                # fields frame, each versioned plane LEFT-joined by
                # rid — an Or across planes must stay answerable for
                # a rid one plane's state lacks (its leaf evaluates
                # null → that branch can't admit, the other still
                # can); an inner join would silently turn Or into
                # And-with-membership whenever plane logs diverge.
                # (This corpus model's logs share one write schedule
                # — pinned by test_meta_plane.py's shared-membership
                # invariant — so today the joins are equal; the left
                # join encodes the semantics, not the fixture.)
                # CAVEAT (r13 advice): the Or-stays-answerable
                # rationale does NOT extend to Not — a Not() wrapping
                # a leaf over a plane a rid is absent from evaluates
                # NOT(null) = null and the filter drops the row,
                # where three-valued Not-semantics arguably should
                # admit it. If plane logs are ever allowed to diverge
                # in membership, evaluate Not-wrapped planes with an
                # explicit IS NOT TRUE (or coalesce plane membership)
                # before trusting mixed trees containing Not.
                snap = fields.select(
                    *[c for c in fields.columns if c in _STATIC_COLS]
                )
                for st in states.values():
                    snap = snap.join(st, "rid", "left")
            asof_allowed = snap.filter(filters.to_column()).select("rid")

    # `fields` scope: validate, then resolve the scoped field-key set
    # and the owning-resource frame once (both reused across legs).
    # Under as_of the scope resolves from the FIELDED op log cut at
    # the same seq — a field deleted after the snapshot is still in
    # scope, one added after it is not (field-grain MVCC, the same
    # latest-op-wins shuffle the live fielded CDC read pays).
    scoped_keys: list[str] | None = None
    scope_rids = None
    if req.fields:
        from nucliadb_spark.cache import cached_df

        scoped_keys = ["/" + f_ for f_ in normalize_fields(req.fields)]
        if as_of is not None:
            from nucliadb_spark.streaming import ingest

            live_fielded = asof_live_state(
                spark,
                sf_dir,
                "fielded_live",
                as_of,
                lambda: ingest.cdc_field_log(tpch.fields_multi(spark, sf_dir)),
                ingest.cdc_live_fielded,
                ("rid", "field_id"),
                log_name="fielded",
            )
            scoped_fields = live_fielded.filter(
                F.col("field_key").isin(scoped_keys)
            )
            scope_name = f"asof{as_of}_scope_rids:" + ",".join(
                sorted(scoped_keys)
            )
        else:
            scoped_fields = tpch.fields_multi(spark, sf_dir).filter(
                F.col("field_key").isin(scoped_keys)
            )
            scope_name = "scope_rids:" + ",".join(sorted(scoped_keys))
        # the owning-resource set of a field family is INDEX state
        # (the fielded postings sidecar's membership list), not
        # per-request work: without the sidecar every scoped request
        # re-ran the fields_multi scan + distinct once per leg that
        # broadcasts it (r15, guide §2.4). Unpinned: field names are
        # request input, so one entry per combination must age out
        # under the cache budget instead of growing the pinned set
        scope_rids = cached_df(
            sf_dir,
            scope_name,
            lambda: scoped_fields.select("rid").distinct(),
            spark=spark,
        )

    if (
        "keyword" in features
        and req.query.strip()
        and as_of is not None
        and scoped_keys
    ):
        # fields scope AT a snapshot: each scoped family's text index
        # builds from the as-of FIELDED corpus and is session-cached
        # per (snapshot, family) — repeated requests at a snapshot
        # serve from built sidecars exactly like the live fielded
        # path, and the FIRST request at a new snapshot chains from
        # the nearest cached earlier snapshot of the same family
        # (asof_family_text_index advances it with only the family's
        # delta ops). Multi-family scopes sum per-field scores per
        # resource (tantivy's multi-field Occur::Should), each family
        # ranking against its OWN as-of stats.
        legs = []
        for key in scoped_keys:
            post, stats, corpus = asof_family_text_index(
                spark, sf_dir, key, as_of
            )
            legs.append(
                bm25.bm25_search(
                    None,
                    req.query,
                    top_k=win,
                    synonyms=req.synonyms,
                    post=post,
                    stats=stats,
                    corpus=corpus,
                    # triple composition: the snapshot's resource-grain
                    # label prefilter semijoins candidates while the
                    # scoped family's as-of stats stay fixed
                    allowed=asof_allowed,
                )
            )
        kw = legs[0]
        for other in legs[1:]:
            kw = kw.unionByName(other)
        if len(legs) > 1:
            kw = kw.groupBy("rid").agg(
                F.round(F.sum("score"), 4).cast("double").alias("score")
            )
        if req.min_score_bm25:
            kw = kw.filter(F.col("score") >= req.min_score_bm25)
        sources["keyword"] = (
            kw.orderBy(F.col("score").desc(), F.col("rid").asc())
            .limit(win)
            .select(F.col("rid").alias("id"), "score")
        )
    elif "keyword" in features and req.query.strip() and as_of is not None:
        # the snapshot's text index: the as-of corpus resolves ONCE
        # per (corpus, seq) and its postings/doc-stats/corpus sidecars
        # are session-cached per snapshot — repeated requests at the
        # same snapshot serve from built segments exactly like the
        # live path. The first request at a NEW snapshot chains from
        # the nearest cached earlier snapshot (asof_text_index
        # advances it with only the delta ops), so a session touring
        # snapshots pays delta-proportional cold cost, not a full
        # rebuild per seq.
        post, stats, corpus = asof_text_index(spark, sf_dir, fields, as_of)
        sources["keyword"] = bm25.bm25_search(
            None,
            req.query,
            top_k=win,
            synonyms=req.synonyms,
            min_score=req.min_score_bm25 or None,
            post=post,
            stats=stats,
            corpus=corpus,
            # the snapshot-resolved label prefilter: candidates
            # restrict via semijoin while the snapshot's df/N/avgdl
            # stay global — the same serve-time contract as the live
            # prefilter (never a stats rebuild)
            allowed=asof_allowed,
        ).select(F.col("rid").alias("id"), "score")
    elif "keyword" in features and req.query.strip() and scoped_keys:
        # field-scoped keyword search SERVES from the session-cached
        # per-family sidecars (postings/docstats/vocab/corpus keyed
        # by field_key — _fielded_text_index): no per-request
        # tokenization or stats pass, same serving rule as the
        # unscoped path below. Each scoped family ranks against its
        # OWN prebuilt stats (tantivy's per-field postings + field
        # norms, nidx/nidx_text/src/schema.rs:59-114); a multi-family
        # scope sums per-field scores per resource, tantivy's
        # multi-field Occur::Should. Filters restrict candidates via
        # semijoin while family stats stay fixed — the serve-time
        # prefilter, never a stats rebuild
        # (nidx/nidx_text/src/reader.rs:148-180).
        from nucliadb_spark.plans.queries_text import _fielded_text_index

        post_f, stats_f, vocab_f, corpus_f = _fielded_text_index(spark, sf_dir)
        allowed_pairs = None
        if filters is not None:
            allowed_pairs = scoped_fields.filter(filters.to_column()).select(
                "field_key", "rid"
            )
        legs = []
        for key in scoped_keys:
            fk = F.col("field_key") == key
            allowed = (
                allowed_pairs.filter(fk).select("rid")
                if allowed_pairs is not None
                else None
            )
            legs.append(
                bm25.bm25_search(
                    None,
                    req.query,
                    top_k=win,
                    synonyms=req.synonyms,
                    post=post_f.filter(fk).drop("field_key"),
                    stats=stats_f.filter(fk).drop("field_key"),
                    vocab=vocab_f.filter(fk).drop("field_key"),
                    corpus=corpus_f.filter(fk).select("n", "avgdl"),
                    allowed=allowed,
                )
            )
        kw = legs[0]
        for other in legs[1:]:
            kw = kw.unionByName(other)
        if len(legs) > 1:
            kw = kw.groupBy("rid").agg(
                F.round(F.sum("score"), 4).cast("double").alias("score")
            )
        if req.min_score_bm25:
            kw = kw.filter(F.col("score") >= req.min_score_bm25)
        sources["keyword"] = (
            kw.orderBy(F.col("score").desc(), F.col("rid").asc())
            .limit(win)
            .select(F.col("rid").alias("id"), "score")
        )
    elif "keyword" in features and req.query.strip():
        # ALL requests serve from the session-cached index
        # (postings/docstats/corpus/vocab sidecars) — an API endpoint
        # must not rebuild the index per request. A filter restricts
        # candidates via semijoin while corpus stats stay GLOBAL,
        # exactly tantivy's serve-time prefilter
        # (nidx/nidx_text/src/reader.rs:148-180).
        from nucliadb_spark.plans.queries_text import (
            _corpus,
            _text_index,
            _vocab,
        )

        post, stats = _text_index(spark, sf_dir)
        allowed = None
        if filters is not None:
            # unbounded id set: no broadcast hint, AQE decides
            allowed = fields.filter(filters.to_column()).select("rid")
        sources["keyword"] = bm25.bm25_search(
            None,
            req.query,
            top_k=win,
            synonyms=req.synonyms,
            min_score=req.min_score_bm25 or None,
            post=post,
            stats=stats,
            corpus=_corpus(sf_dir, stats),
            vocab=_vocab(sf_dir, post),
            allowed=allowed,
        ).select(F.col("rid").alias("id"), "score")

    if "semantic" in features:
        if req.rephrase:
            # rephrased text is what gets embedded (stub space over
            # documents — the fetcher.get_query_vector analog); the
            # doc embeddings come from the session-cached sidecar,
            # never a per-request corpus UDF pass
            from nucliadb_spark.operators.find import stub_embedding_sidecar

            qtext = models.stub_rephrase_py(req.query)
            if as_of is not None:
                # the snapshot's embedding sidecar: the as-of corpus
                # (revised docs on their revised text, deleted-later
                # docs still present) re-embedded deterministically —
                # session-cached per snapshot, and CHAINED like every
                # other as-of state: a new snapshot embeds only the
                # delta docs (embeddings are pure functions of text
                # versions, so untouched rids keep their vectors via
                # the advance's anti-join — the Arrow UDF pass, the
                # expensive part, runs over the delta alone)
                from nucliadb_spark.streaming import ingest

                emb_docs = asof_live_state(
                    spark,
                    sf_dir,
                    "stub_embeddings",
                    as_of,
                    lambda: ingest.cdc_log(fields),
                    stub_embed_live,
                    ("rid",),
                    log_name="content_text",
                )
            else:
                emb_docs = stub_embedding_sidecar(spark, sf_dir)
            if filters is not None:
                allowed = (
                    asof_allowed
                    if asof_allowed is not None
                    else fields.filter(filters.to_column()).select("rid")
                )
                emb_docs = emb_docs.join(allowed, "rid", "semi")
            if scope_rids is not None:
                emb_docs = emb_docs.join(F.broadcast(scope_rids), "rid", "semi")
            # the query embedding is computed DRIVER-SIDE (the model
            # boundary runs once per request on the query text, like
            # the reference's Predict call) and inlined as a literal —
            # the createDataFrame+UDF form spun one Python worker per
            # default-parallelism slice for a 1-row frame (guide §4;
            # measured as a 32-task / 88 s-run stage in the r14
            # baseline profile)
            qvec = frames.literal_frame(
                spark,
                [(models._hash_embed(qtext),)],
                "qvec array<double>",
            )
            sources["semantic"] = knn.exact_knn(
                emb_docs, qvec, k=win, min_score=req.min_score,
                vec_col="embedding",
            )
        else:
            if as_of is not None:
                # the vector set AS OF the same seq: a new snapshot
                # chains from the nearest durable one (delta advance),
                # the first pays the seq-pruned scan + the same max_by
                # the live vector CDC read pays
                from nucliadb_spark.streaming import ingest

                vectors = asof_live_state(
                    spark,
                    sf_dir,
                    "vectors",
                    as_of,
                    lambda: ingest.cdc_vector_log(tpch.vectors(spark, sf_dir)),
                    ingest.cdc_live_vectors,
                    ("rid",),
                )
            else:
                vectors = tpch.vectors(spark, sf_dir)
            if filters is not None:
                allowed = (
                    asof_allowed
                    if asof_allowed is not None
                    else fields.filter(filters.to_column()).select("rid")
                )
                # no broadcast hint: the allowed set is query-dependent
                # and unbounded (a loose filter matches most of the
                # corpus) — AQE broadcasts small sets at runtime and
                # shuffles big ones, the same rule bm25_search applies
                vectors = vectors.join(allowed, "rid", "semi")
            if scope_rids is not None:
                vectors = vectors.join(F.broadcast(scope_rids), "rid", "semi")
            qvec = (
                tpch.table(spark, sf_dir, "embeddings")
                .filter(F.col("vec_id") == req.query_vec_id)
                .select(F.col("embedding").alias("qvec"))
            )
            sources["semantic"] = knn.exact_knn(
                vectors, qvec, k=win, min_score=req.min_score
            )

    if "graph" in features and req.entity_sources:
        gdf = fields
        if as_of is not None:
            # snapshot membership from the content op log (docs
            # deleted after the seq still match, docs indexed after
            # it do not); the SOURCE attribute is metadata-plane
            # state (origin is PATCHable, writer.py:155-169), so it
            # reads from the seq-cut metadata op log — not today's
            # values. Both served through asof_live_state like every
            # other as-of plane: repeated requests at the snapshot
            # read the cached sidecars, a new snapshot chains from
            # the nearest durable one — full-log cost once per
            # (seq, family), not once per request
            from nucliadb_spark.streaming import ingest

            # membership rides the SAME 'content_text' family the
            # text filter plane resolves — one content-log resolution
            # and one cached sidecar per snapshot serve both
            live_rids = asof_live_state(
                spark,
                sf_dir,
                "content_text",
                as_of,
                lambda: ingest.cdc_log(fields),
                ingest.cdc_live_fields,
                ("rid",),
            ).select("rid")
            meta_state = asof_live_state(
                spark,
                sf_dir,
                "meta",
                as_of,
                lambda: ingest.cdc_meta_log(fields),
                ingest.cdc_live_meta,
                ("rid",),
            )
            gdf = meta_state.join(live_rids, "rid", "semi")
        if filters is not None:
            # under as_of the filter tree is the multi-plane
            # snapshot-resolved allowed set (label/meta/text/static,
            # computed above); live requests evaluate the tree
            # directly over the fields frame
            gdf = (
                gdf.join(asof_allowed, "rid", "semi")
                if asof_allowed is not None
                else gdf.filter(filters.to_column())
            )
        if scope_rids is not None:
            gdf = gdf.join(F.broadcast(scope_rids), "rid", "semi")
        sources["graph"] = (
            gdf.filter(F.col("source").isin(req.entity_sources))
            .select(F.col("rid").alias("id"), F.lit(1.0).alias("score"))
            .orderBy("id")
            .limit(win)
        )
    elif "graph" in features and req.query.strip():
        # the RELATIONS retriever proper: NER-detected entity values
        # become graph entry points; matching triples' provenance
        # paragraphs join the fusion at score 1.0 (ref fetcher.py:
        # 238-257 get_detected_entities + find's relations source).
        # Under a `fields` scope the triple hits semijoin the scope's
        # rid set BEFORE fusion — the reference's prefilter applied
        # to the relation index (nidx/nidx_relation/src/reader.rs:
        # 261-271 apply_prefilter). The entity list is a driver-side
        # literal; the triple match is an isin filter inside codegen.
        ents = models.detect_entity_values_py(req.query)
        if ents:
            if as_of is not None:
                # the relation set AS OF the same seq — edge-keyed
                # max_by over the seq-cut edge op log; a new snapshot
                # chains from the nearest durable one (delta advance)
                from nucliadb_spark.streaming import ingest

                rel = asof_live_state(
                    spark,
                    sf_dir,
                    "relations",
                    as_of,
                    lambda: ingest.cdc_relation_log(tpch.relations(spark, sf_dir)),
                    ingest.cdc_live_relations,
                    ingest._EDGE_COLS,
                )
            else:
                rel = tpch.relations_index(spark, sf_dir)
            g = (
                rel.filter(
                    (
                        F.col("source_value").isin(ents)
                        | F.col("target_value").isin(ents)
                    )
                    & F.col("paragraph_id").isNotNull()
                )
                .select(
                    F.split("paragraph_id", "/").getItem(0).cast("long").alias("id"),
                    F.lit(1.0).alias("score"),
                )
                .distinct()
            )
            if filters is not None:
                allowed = (
                    asof_allowed
                    if asof_allowed is not None
                    else fields.filter(filters.to_column()).select("rid")
                ).select(F.col("rid").alias("id"))
                g = g.join(allowed, "id", "semi")
            if scope_rids is not None:
                g = g.join(
                    F.broadcast(scope_rids.select(F.col("rid").alias("id"))),
                    "id",
                    "semi",
                )
            sources["graph"] = g

    if not sources:
        raise ValueError("request selects no retrievers")

    # keyset pagination needs the fused ranking to the window depth
    # (the pageable horizon); a reranked list has page-dependent
    # scores, so the combination is rejected
    if req.search_after is not None and req.reranker != "noop":
        raise ValueError("search_after pages the fused ranking; rerankers re-score pages")
    cut = win if req.search_after is not None else req.top_k

    # R3: single source skips fusion entirely
    if len(sources) == 1:
        name, df = next(iter(sources.items()))
        fused = df.select(
            "id",
            F.col("score").cast("double").alias("score"),
            F.array(F.lit(name)).alias("matched_sources"),
        ).orderBy(F.col("score").desc(), F.col("id").asc()).limit(cut)
    else:
        fused = fusion.rrf(sources, weights=req.fusion_weights, top_k=cut)

    if req.search_after is not None:
        c_score, c_id = req.search_after
        fused = (
            fused.filter(
                (F.col("score") < c_score)
                | ((F.col("score") == c_score) & (F.col("id") > c_id))
            )
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(req.top_k)
        )

    # R5: optional cross-encoder rerank over min(2k, 200) candidates
    if req.reranker == "stub":
        docs = tpch.table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("id"), "text"
        )
        rerank = models.make_stub_reranker(req.query)
        rerank_win = planner.reranker_window(req.top_k)
        fused = (
            fused.limit(rerank_win)
            .join(docs, "id")
            .select(
                "id",
                F.round(rerank(F.col("text")), 8).cast("double").alias("score"),
                "matched_sources",
            )
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(req.top_k)
        )
    return fused
