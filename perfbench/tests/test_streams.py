"""The seeded inputs: the same seed gives the same stream, another
seed another one, and the streams keep their documented shape."""

import itertools

import streams

N_VEC = 200


def _take(gen, n):
    return list(itertools.islice(gen, n))


def test_first_seen_same_seed_same_stream():
    assert _take(streams.first_seen(7, N_VEC), 40) == _take(streams.first_seen(7, N_VEC), 40)


def test_first_seen_other_seed_other_stream():
    assert _take(streams.first_seen(7, N_VEC), 40) != _take(streams.first_seen(8, N_VEC), 40)


def test_first_seen_never_repeats_and_cycles_shapes():
    specs = _take(streams.first_seen(3, N_VEC), 10 * len(streams.SHAPES))
    keys = [streams.spec_key(s) for s in specs]
    assert len(set(keys)) == len(keys)
    assert [s["shape"] for s in specs] == list(streams.SHAPES) * 10
    seqs = [s["as_of"] for s in specs if s["shape"] == "as_of"]
    assert len(set(seqs)) == len(seqs)


def test_repeat_pool_and_order_are_seeded():
    assert streams.repeat_pool(5, N_VEC) == streams.repeat_pool(5, N_VEC)
    assert streams.repeat_pool(5, N_VEC) != streams.repeat_pool(6, N_VEC)
    n = len(streams.SHAPES)
    order = streams.repeat_order(5, n, 3 * n)
    assert order == streams.repeat_order(5, n, 3 * n)
    assert order != streams.repeat_order(6, n, 3 * n)
    # whole passes: every pool entry equally often
    assert sorted(order) == sorted(list(range(n)) * 3)


def test_tranches_are_seeded_and_disjoint_in_seq():
    a = streams.tranche(1, 0, 500, [])
    assert a == streams.tranche(1, 0, 500, [])
    assert a != streams.tranche(2, 0, 500, [])
    b = streams.tranche(1, 1, 500, a["upserts"])
    assert max(a["seq"]) < min(b["seq"])
    assert set(b["deletes"]) <= set(a["upserts"])
    assert not set(b["deletes"]) & set(b["upserts"])
    assert all(streams.marker(1, 1) in t for t in b["text"] if t)


def test_batch_plan_is_seeded():
    assert streams.batch_plan(1, N_VEC, 500) == streams.batch_plan(1, N_VEC, 500)
    assert streams.batch_plan(1, N_VEC, 500) != streams.batch_plan(2, N_VEC, 500)
