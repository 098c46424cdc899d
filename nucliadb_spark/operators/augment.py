"""RAG context augmentors (SURVEY §2.14): the retrieval-adjacent
operators /ask uses to build LLM context around hits.

ref: nucliadb/src/nucliadb/search/search/chat/prompt.py (strategies
at nucliadb_models/search.py:1147-1500), neighbouring paragraphs at
search/augmentor/paragraphs.py. Batch shapes:

- neighbouring_paragraphs: hits ⋈ paragraphs on same field within
  ±n ordinal positions — a RANGE JOIN on the paragraph offsets. The
  hit set is tiny (top-k), so it broadcasts and the range predicate
  evaluates against the paragraphs scan (pruned by rid).
- hierarchy: prepend the resource title to each hit (join resources).
- full_resource: expand hits to every paragraph of their documents
  (semi-join on rid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nucliadb_spark.sources.tpch import PARAGRAPH_STRIDE


def neighbouring_paragraphs(
    paragraphs: DataFrame, hits: DataFrame, before: int = 1, after: int = 1
) -> DataFrame:
    """hits(rid, start) → neighbor paragraphs within ±n windows:
    (hit_paragraph_id, paragraph_id, position, text)."""
    h = hits.select(
        F.col("paragraph_id").alias("hit_paragraph_id"),
        F.col("rid").alias("hit_rid"),
        F.col("start").alias("hit_start"),
    )
    lo = F.col("hit_start") - before * PARAGRAPH_STRIDE
    hi = F.col("hit_start") + after * PARAGRAPH_STRIDE
    return (
        paragraphs.join(
            F.broadcast(h),
            (F.col("rid") == F.col("hit_rid"))
            & (F.col("start") >= lo)
            & (F.col("start") <= hi),
        )
        .select(
            "hit_paragraph_id",
            "paragraph_id",
            ((F.col("start") - F.col("hit_start")) / PARAGRAPH_STRIDE)
            .cast("long")
            .alias("position"),
            "text",
        )
        .orderBy("hit_paragraph_id", "position")
    )


def neighbouring_paragraphs_sql(
    paragraphs_sql: str, hits_sql: str, before: int = 1, after: int = 1
) -> str:
    return f"""
WITH paragraphs AS ({paragraphs_sql}),
hits AS ({hits_sql})
SELECT h.paragraph_id AS hit_paragraph_id,
       p.paragraph_id,
       CAST((p.start - h.start) / {PARAGRAPH_STRIDE} AS BIGINT) AS position,
       p.text
FROM paragraphs p
JOIN hits h
  ON p.rid = h.rid
 AND p.start >= h.start - {before * PARAGRAPH_STRIDE}
 AND p.start <= h.start + {after * PARAGRAPH_STRIDE}
ORDER BY hit_paragraph_id, position
"""


def conversation_context(
    messages: DataFrame, hits: DataFrame, before: int = 2, after: int = 2
) -> DataFrame:
    """Conversational strategy: surround each hit message with its
    ±n neighbors in the same conversation (range join on the message
    ordinal). hits: (message_key, conversation_id, message_idx)."""
    h = hits.select(
        F.col("message_key").alias("hit_key"),
        F.col("conversation_id").alias("hit_conv"),
        F.col("message_idx").alias("hit_idx"),
    )
    return (
        messages.join(
            F.broadcast(h),
            (F.col("conversation_id") == F.col("hit_conv"))
            & (F.col("message_idx") >= F.col("hit_idx") - before)
            & (F.col("message_idx") <= F.col("hit_idx") + after),
        )
        .select(
            "hit_key",
            "message_key",
            (F.col("message_idx") - F.col("hit_idx")).alias("position"),
            "message_type",
            "text",
        )
        .orderBy("hit_key", "position")
    )


def conversation_context_sql(
    messages_sql: str, hits_sql: str, before: int = 2, after: int = 2
) -> str:
    return f"""
WITH messages AS ({messages_sql}),
hits AS ({hits_sql})
SELECT h.message_key AS hit_key,
       m.message_key,
       m.message_idx - h.message_idx AS position,
       m.message_type,
       m.text
FROM messages m
JOIN hits h
  ON m.conversation_id = h.conversation_id
 AND m.message_idx >= h.message_idx - {before}
 AND m.message_idx <= h.message_idx + {after}
ORDER BY hit_key, position
"""


# --- /augment endpoint: hydration-by-id with prop selectors ----------------
# ref: nucliadb/src/nucliadb/search/api/v1/augment.py (AugmentRequest →
# AugmentResources / AugmentParagraphs with SelectProp lists:
# ResourceTitle, ResourceSummary, ResourceClassificationLabels,
# FieldEntities, ParagraphText, ParagraphPosition...; models at
# nucliadb/src/nucliadb/models/internal/augment.py). Unlike the RAG
# strategies above (which start from retrieval hits), this surface takes
# EXPLICIT id lists from the caller and hydrates the requested props.
#
# Batch shape: the id list is request-sized (tiny) — broadcast it as a
# literal IN-filter so the resources/relations scans prune to the
# requested keys; each prop family is a column projection, unioned into
# the long (id, prop, value) layout that mirrors the per-prop response
# maps.


def augment_resources(
    resources: DataFrame,
    relations: DataFrame,
    rids: list[int],
    props: list[str],
) -> DataFrame:
    """Hydrate explicit resource ids → (rid, prop, value).

    Props: 'title' (ResourceTitle), 'slug' (basic slug),
    'classification_labels' (ResourceClassificationLabels, the /l/
    user labels), 'origin' (Origin metadata), 'ner' (FieldEntities —
    entities whose relations carry paragraph provenance in this rid)."""
    res = resources.filter(F.col("rid").isin(rids))
    parts = []
    for prop in props:
        if prop == "title":
            src = res.select("rid", F.col("title").alias("value"))
        elif prop == "slug":
            src = res.select("rid", F.col("slug").alias("value"))
        elif prop == "classification_labels":
            src = res.select("rid", F.explode("labels").alias("value")).filter(
                F.col("value").startswith("/l/")
            )
        elif prop == "origin":
            src = res.select(
                "rid", F.concat(F.lit("source="), F.col("origin_source")).alias("value")
            )
        elif prop == "ner":
            src = (
                relations.filter(F.col("paragraph_id").isNotNull())
                .select(
                    F.split(F.col("paragraph_id"), "/")
                    .getItem(0)
                    .cast("long")
                    .alias("rid"),
                    F.concat_ws(
                        ":", F.col("source_subtype"), F.col("source_value")
                    ).alias("value"),
                )
                .filter(F.col("rid").isin(rids))
                .distinct()
            )
        else:
            raise ValueError(f"unsupported resource prop {prop!r}")
        parts.append(src.select("rid", F.lit(prop).alias("prop"), "value"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("rid", "prop", "value")


def augment_resources_sql(
    resources_sql: str,
    relations_sql: str,
    rids: list[int],
    props: list[str],
) -> str:
    id_list = ", ".join(str(r) for r in rids)
    selects = []
    for prop in props:
        if prop == "title":
            selects.append(
                f"SELECT rid, 'title' AS prop, title AS value FROM resources "
                f"WHERE rid IN ({id_list})"
            )
        elif prop == "slug":
            selects.append(
                f"SELECT rid, 'slug' AS prop, slug AS value FROM resources "
                f"WHERE rid IN ({id_list})"
            )
        elif prop == "classification_labels":
            selects.append(
                "SELECT rid, 'classification_labels' AS prop, value FROM ("
                f"SELECT rid, unnest(labels) AS value FROM resources WHERE rid IN ({id_list})"
                ") WHERE starts_with(value, '/l/')"
            )
        elif prop == "origin":
            selects.append(
                f"SELECT rid, 'origin' AS prop, concat('source=', origin_source) AS value "
                f"FROM resources WHERE rid IN ({id_list})"
            )
        elif prop == "ner":
            selects.append(
                "SELECT DISTINCT CAST(string_split(paragraph_id, '/')[1] AS BIGINT) AS rid, "
                "'ner' AS prop, concat(source_subtype, ':', source_value) AS value "
                "FROM relations WHERE paragraph_id IS NOT NULL "
                f"AND CAST(string_split(paragraph_id, '/')[1] AS BIGINT) IN ({id_list})"
            )
        else:
            raise ValueError(f"unsupported resource prop {prop!r}")
    union = " UNION ALL ".join(f"({s})" for s in selects)
    return f"""
WITH resources AS ({resources_sql}),
relations AS ({relations_sql})
SELECT rid, prop, value FROM ({union})
ORDER BY rid, prop, value
"""


def augment_paragraphs_by_id(
    paragraphs: DataFrame,
    resources: DataFrame,
    paragraph_ids: list[str],
) -> DataFrame:
    """Hydrate explicit paragraph ids → text + position + kind + parent
    title (ParagraphText / ParagraphPosition / Paragraph page props +
    the HierarchyResourceStrategy's title, augment.py models).

    Wide layout (one row per requested id): (paragraph_id, rid, start,
    end, kind, text, title)."""
    p = paragraphs.filter(F.col("paragraph_id").isin(paragraph_ids))
    return (
        p.join(F.broadcast(resources.select("rid", "title")), "rid")
        .select("paragraph_id", "rid", "start", "end", "kind", "text", "title")
        .orderBy("paragraph_id")
    )


def augment_paragraphs_by_id_sql(
    paragraphs_sql: str,
    resources_sql: str,
    paragraph_ids: list[str],
) -> str:
    id_list = ", ".join(f"'{i}'" for i in paragraph_ids)
    return f"""
WITH paragraphs AS ({paragraphs_sql}),
resources AS ({resources_sql})
SELECT p.paragraph_id, p.rid, p.start, p."end", p.kind, p.text, r.title
FROM paragraphs p
JOIN resources r ON p.rid = r.rid
WHERE p.paragraph_id IN ({id_list})
ORDER BY p.paragraph_id
"""


# --- field_extension strategy ----------------------------------------------
# ref: nucliadb_models/search.py:1193-1225 (FieldExtensionStrategy)
# and its application in search/search/chat/prompt.py: extend the
# context of each matching resource with the configured extra field
# ids ({field_type}/{field_name}, e.g. 'a/title'). Batch shape: one
# broadcast join per requested field id, unioned — the hit set is
# top-k sized, the field sources are column projections.


def field_extension_context(
    hits: DataFrame,
    resources: DataFrame,
    fields: DataFrame,
    extend_fields: list[str],
) -> DataFrame:
    """hits(rid) × requested field ids → (rid, field, text).

    Supported ids on this KB: 'a/title' (resource title field),
    'a/slug' (resource slug), 't/body' (the body text field).
    """
    rids = F.broadcast(hits.select("rid").distinct())
    parts = []
    for fid in extend_fields:
        if fid == "a/title":
            src = resources.select("rid", F.col("title").alias("text"))
        elif fid == "a/slug":
            src = resources.select("rid", F.col("slug").alias("text"))
        elif fid == "t/body":
            src = fields.filter(F.col("field_key") == "/t/body").select(
                "rid", "text"
            )
        else:
            raise ValueError(f"unsupported field id {fid!r}")
        parts.append(
            src.join(rids, "rid").select("rid", F.lit(fid).alias("field"), "text")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("rid", "field")


def field_extension_sql(
    hits_sql: str,
    resources_sql: str,
    fields_sql: str,
    extend_fields: list[str],
) -> str:
    selects = []
    for fid in extend_fields:
        if fid == "a/title":
            selects.append(
                "SELECT rid, 'a/title' AS field, title AS text FROM resources"
            )
        elif fid == "a/slug":
            selects.append(
                "SELECT rid, 'a/slug' AS field, slug AS text FROM resources"
            )
        elif fid == "t/body":
            selects.append(
                "SELECT rid, 't/body' AS field, text FROM fields "
                "WHERE field_key = '/t/body'"
            )
        else:
            raise ValueError(f"unsupported field id {fid!r}")
    union = " UNION ALL ".join(f"({s})" for s in selects)
    return f"""
WITH hits AS ({hits_sql}),
resources AS ({resources_sql}),
fields AS ({fields_sql}),
ext AS ({union})
SELECT e.rid, e.field, e.text
FROM ext e
WHERE e.rid IN (SELECT DISTINCT rid FROM hits)
ORDER BY e.rid, e.field
"""


# --- metadata_extension strategy -------------------------------------------
# ref: nucliadb_models/search.py:1290-1320 (MetadataExtensionStrategy,
# types origin | classification_labels | ner | extra_metadata) applied
# in chat/prompt.py — enrich each matching resource's context with the
# requested metadata families. NER entities come from the relations
# attached to the resource's paragraphs (utils.proto RelationMetadata
# paragraph_id provenance).


def metadata_extension_context(
    hits: DataFrame,
    resources: DataFrame,
    relations: DataFrame,
    types: list[str],
) -> DataFrame:
    """hits(rid) × metadata types → (rid, meta_type, value)."""
    rids = F.broadcast(hits.select("rid").distinct())
    parts = []
    for t in types:
        if t == "origin":
            src = resources.select(
                "rid",
                F.concat(F.lit("source="), F.col("origin_source")).alias("value"),
            )
        elif t == "classification_labels":
            src = resources.select(
                "rid", F.explode("labels").alias("value")
            ).filter(F.col("value").startswith("/l/"))
        elif t == "ner":
            src = (
                relations.filter(F.col("paragraph_id").isNotNull())
                .select(
                    F.split(F.col("paragraph_id"), "/")
                    .getItem(0)
                    .cast("long")
                    .alias("rid"),
                    F.concat_ws(
                        ":", F.col("source_subtype"), F.col("source_value")
                    ).alias("value"),
                )
                .distinct()
            )
        else:
            raise ValueError(f"unsupported metadata type {t!r}")
        parts.append(
            src.join(rids, "rid").select(
                "rid", F.lit(t).alias("meta_type"), "value"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("rid", "meta_type", "value")


def metadata_extension_sql(
    hits_sql: str,
    resources_sql: str,
    relations_sql: str,
    types: list[str],
) -> str:
    selects = []
    for t in types:
        if t == "origin":
            selects.append(
                "SELECT rid, 'origin' AS meta_type, "
                "concat('source=', origin_source) AS value FROM resources"
            )
        elif t == "classification_labels":
            selects.append(
                "SELECT rid, 'classification_labels' AS meta_type, value "
                "FROM (SELECT rid, unnest(labels) AS value FROM resources) "
                "WHERE starts_with(value, '/l/')"
            )
        elif t == "ner":
            selects.append(
                "SELECT DISTINCT CAST(string_split(paragraph_id, '/')[1] AS BIGINT) AS rid, "
                "'ner' AS meta_type, "
                "concat(source_subtype, ':', source_value) AS value "
                "FROM relations WHERE paragraph_id IS NOT NULL"
            )
        else:
            raise ValueError(f"unsupported metadata type {t!r}")
    union = " UNION ALL ".join(f"({s})" for s in selects)
    return f"""
WITH hits AS ({hits_sql}),
resources AS ({resources_sql}),
relations AS ({relations_sql}),
ext AS ({union})
SELECT e.rid, e.meta_type, e.value
FROM ext e
WHERE e.rid IN (SELECT DISTINCT rid FROM hits)
ORDER BY e.rid, e.meta_type, e.value
"""
