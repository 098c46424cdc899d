"""Seeded inputs of the benchmark: find-request specs, ingest tranches
and the batch job plan. Pure Python, no Spark: a spec is a plain dict
that ``run.py`` turns into a ``FindRequest``, so the same seed gives
the same stream and the tests can check that without a session."""

from __future__ import annotations

import random

import corpus

# the corpus vocabulary minus the stop words the keyword leg drops;
# "dup" marks the near-duplicate documents
TERMS = [t for t in corpus.VOCAB if t not in ("a", "the")] + ["dup"]
LANGS = corpus.LANGS
N_SOURCES = corpus.N_SOURCES
N_GROUPS = 7
# The seed draws values, never structure: every draw below keeps a
# request's plan shape and cost class, so two seeds give runs of the
# same cost mix.
TOP_KS = (8, 10, 12)
FIELD_SCOPES = (["a/title"], ["t/body"])
N_TERMS = 2

# Request shapes in the order a first-seen stream cycles them. A run
# measures whole cycles only, so every seed and every run length gets
# the same cost mix and the seed draws only values. Together the shapes
# cover the request lattice — graph over entity sources, facet and
# security filters, the rephrase leg, a snapshot read, a field-family
# scope and a keyset page — in as few requests as a gated run can
# afford. "as_of" pays for its own snapshot and "fields_page" for a
# second keyword index, so both cost more than the rest.
SHAPES = (
    "hybrid_graph",  # keyword + semantic + graph over entity sources
    "filtered_rephrase",  # facet + security filters, rephrased semantic leg
    "as_of",  # every leg resolved at one log sequence
    "fields_page",  # one field family's scope, keyset page 2
)

# The synthetic CDC log puts a document's first upsert at seq = rid,
# its revision at rid + 1M and its deletion at rid + 2M, so every
# as_of in [AS_OF_LO, AS_OF_HI] cuts inside the revision wave.
AS_OF_FIXED = 1_500_000
AS_OF_LO, AS_OF_HI = 1_000_000, 1_999_999


def _query(rng: random.Random) -> str:
    return " ".join(rng.sample(TERMS[:-1], N_TERMS))


def find_spec(shape: str, rng: random.Random, n_vec: int, as_of: int | None) -> dict:
    """One request of ``shape`` with seeded values. ``as_of`` is the
    sequence used by the ``as_of`` shape (ignored by the others)."""
    spec = {
        "shape": shape,
        "query": _query(rng),
        "query_vec_id": rng.randrange(n_vec),
        "top_k": rng.choice(TOP_KS),
        "features": ["keyword", "semantic"],
    }
    if shape == "hybrid_graph":
        spec["features"] = ["keyword", "semantic", "graph"]
        spec["entity_sources"] = sorted(
            f"src{i}" for i in rng.sample(range(N_SOURCES), 2)
        )
    if shape == "filtered_rephrase":
        spec["facet"] = f"/s/p/{rng.choice(LANGS)}"
        spec["security_groups"] = [f"group-{rng.randrange(N_GROUPS)}"]
        spec["rephrase"] = True
    if shape == "fields_page":
        spec["fields"] = list(rng.choice(FIELD_SCOPES))
        # a cursor is a (score, id) pair; any pair is a valid page
        # boundary of the (score desc, id asc) order
        spec["search_after"] = [round(rng.uniform(0.01, 0.03), 6), rng.randrange(n_vec)]
    if shape == "as_of":
        spec["as_of"] = as_of
    return spec


def spec_key(spec: dict) -> str:
    """A canonical text key: two specs with equal keys are the same
    request."""
    return repr(sorted((k, repr(v)) for k, v in spec.items()))


def repeat_pool(seed: int, n_vec: int) -> list[dict]:
    """The find_repeat pool: one distinct request per shape, the
    ``as_of`` shape at one fixed sequence."""
    rng = random.Random(f"pool:{seed}")
    return [find_spec(s, rng, n_vec, AS_OF_FIXED) for s in SHAPES]


def repeat_order(seed: int, n_pool: int, n: int) -> list[int]:
    """Which pool entry each of the first ``n`` timed requests uses:
    whole shuffled passes over the pool, so every entry is repeated
    equally often."""
    rng = random.Random(f"order:{seed}")
    out: list[int] = []
    while len(out) < n:
        p = list(range(n_pool))
        rng.shuffle(p)
        out.extend(p)
    return out[:n]


def first_seen(seed: int, n_vec: int):
    """Endless stream of never-repeating specs cycling :data:`SHAPES`.
    Each ``as_of`` request carries a sequence no earlier request used,
    so it pays for its own snapshot."""
    rng = random.Random(f"first:{seed}")
    seen: set[str] = set()
    used_seqs: set[int] = set()
    i = 0
    while True:
        shape = SHAPES[i % len(SHAPES)]
        while True:
            seq = rng.randint(AS_OF_LO, AS_OF_HI)
            spec = find_spec(shape, rng, n_vec, seq)
            key = spec_key(spec)
            if key not in seen and (shape != "as_of" or seq not in used_seqs):
                break
        seen.add(key)
        used_seqs.add(seq)
        i += 1
        yield spec


def warmup_spec(n_vec: int) -> dict:
    """The request a find workload's set-up runs once, untimed, so that
    the first timed request does not also pay the JVM's warm-up. Its
    values come from a fixed seed of its own."""
    return find_spec("hybrid_graph", random.Random("warmup"), n_vec, None)


# --- ingest tranches -----------------------------------------------------

# tranche r occupies seqs [TRANCHE_BASE + r * TRANCHE_STRIDE, ...): one
# seq bucket of the serving log per tranche (the log's bucket width is
# 250 000), so a purge past a tranche deletes whole buckets
TRANCHE_BASE = 3_000_000
TRANCHE_STRIDE = 250_000
UPSERTS_PER_TRANCHE = 8
DELETES_PER_TRANCHE = 4


def marker(seed: int, round_no: int) -> str:
    """The token only tranche ``round_no``'s upserts carry."""
    return f"mk{seed % 100000}r{round_no}"


def tranche(seed: int, round_no: int, n_doc: int, prev_upserts: list[int]) -> dict:
    """Round ``round_no``'s ops: upserts of existing resources with new
    text that carries the round's marker, then deletes of resources the
    previous round upserted. Returns rids, seqs, ops and texts in seq
    order, plus the round's highest seq."""
    rng = random.Random(f"tranche:{seed}:{round_no}")
    ups = sorted(rng.sample(range(n_doc), UPSERTS_PER_TRANCHE))
    pool = [r for r in prev_upserts if r not in ups]
    dels = sorted(rng.sample(pool, min(DELETES_PER_TRANCHE, len(pool))))
    mk = marker(seed, round_no)
    seq0 = TRANCHE_BASE + round_no * TRANCHE_STRIDE
    rids, ops, texts = [], [], []
    for r in ups:
        rids.append(r)
        ops.append("upsert")
        texts.append(" ".join([mk] + rng.sample(TERMS, 6)))
    for r in dels:
        rids.append(r)
        ops.append("delete")
        texts.append(None)
    seqs = [seq0 + i for i in range(len(rids))]
    return {
        "rid": rids,
        "seq": seqs,
        "op": ops,
        "text": texts,
        "upserts": ups,
        "deletes": dels,
        "head": seqs[-1],
        "marker": mk,
    }


# --- batch jobs ----------------------------------------------------------

BATCH_JOBS = (
    "ann.batch_knn_ivf",
    "dedup.lsh_pairs",
    "dedup.remove_dup_spans",
    "iterative.pagerank",
    "bm25.batch_bm25",
    "ann.ivf_drift_plan_incremental",
    "ingest.autocompact_fielded_index",
)


def batch_plan(seed: int, n_vec: int, n_doc: int) -> dict:
    """The fixed job list with its seeded inputs: the kNN query
    vectors, the BM25 seed documents (each contributes its first
    three tokens) and the PageRank iteration count."""
    rng = random.Random(f"batch:{seed}")
    return {
        "jobs": list(BATCH_JOBS),
        "knn_queries": sorted(rng.sample(range(n_vec), 16)),
        "bm25_docs": sorted(rng.sample(range(n_doc), 20)),
        "pagerank_iters": 5,
    }
