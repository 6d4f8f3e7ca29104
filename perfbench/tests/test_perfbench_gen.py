import numpy as np

import gen


def _draw(seed):
    rng = np.random.default_rng(seed)
    mix = gen.Mixture(rng)
    x = mix.draw(rng, 50)
    return x, gen.noisy(rng, x[3])


def test_same_seed_same_inputs():
    a, qa = _draw(7)
    b, qb = _draw(7)
    c, _ = _draw(8)
    assert a.dtype == np.float32 and a.shape == (50, gen.DIM)
    assert np.array_equal(a, b) and qa == qb
    assert not np.array_equal(a, c)


def _mirror(n=40, seed=1):
    rng = np.random.default_rng(seed)
    x = gen.Mixture(rng).draw(rng, n)
    m = gen.Mirror()
    m.upsert("ns", [f"v{i:03d}" for i in range(n)], x)
    return m, rng


def _exact(m, ns, q, k):
    d = m.distances(ns, q)
    ids = m.ids(ns)
    order = sorted(range(len(ids)), key=lambda i: (round(d[i], 4), ids[i]))[:k]
    return [{"id": ids[i], "score": round(float(d[i]), 4)} for i in order]


def test_checker_accepts_exact_topk_and_rejects_perturbed():
    m, rng = _mirror()
    q = gen.noisy(rng, m.vector("ns", "v005"))
    good = _exact(m, "ns", q, 10)
    assert gen.check_topk(m, "ns", q, 10, good) is None
    # swap the last hit for a row outside the top-k, with its true score
    far = _exact(m, "ns", q, 40)[-1]
    assert gen.check_topk(m, "ns", q, 10, good[:-1] + [far]) is not None
    # right ids, wrong score
    bad = [dict(good[0], score=good[0]["score"] + 0.01)] + good[1:]
    assert gen.check_topk(m, "ns", q, 10, bad) is not None
    # too few answers, or a duplicate
    assert gen.check_topk(m, "ns", q, 10, good[:-1]) is not None
    assert gen.check_topk(m, "ns", q, 10, good[:-1] + [good[0]]) is not None


def test_checker_tolerates_rounding_ties():
    m = gen.Mirror(dim=2)
    m.upsert("ns", ["a", "b", "c"], [[1.0, 0.0], [0.0, 1.00001], [3.0, 3.0]])
    q = [0.0, 0.0]
    # a and b tie at 4 decimals; either may fill the single slot
    assert gen.check_topk(m, "ns", q, 1, [{"id": "a", "score": 1.0}]) is None
    assert gen.check_topk(m, "ns", q, 1, [{"id": "b", "score": 1.0}]) is None
    assert gen.check_topk(m, "ns", q, 1, [{"id": "c", "score": 18.0}]) is not None


def test_mirror_tracks_writes_and_deletes():
    m, rng = _mirror(n=5)
    m.delete("ns", ["v001", "v004"])
    assert sorted(m.ids("ns")) == ["v000", "v002", "v003"]
    m.upsert("ns", ["v002", "new"], np.ones((2, gen.DIM), np.float32))
    assert m.count("ns") == 4
    assert np.all(m.vector("ns", "v002") == 1) and m.has("ns", "new")
    q = m.vector("ns", "new").tolist()
    hits = _exact(m, "ns", q, 2)
    assert {h["id"] for h in hits} == {"v002", "new"}
    assert gen.recall(m, "ns", q, 2, hits) == 1.0
    assert gen.recall(m, "ns", q, 2, hits[:1]) == 0.5


def test_canonical_rows_ignore_order_and_float_noise():
    a = [(1, 0.12345, "x"), (0, 2.0, "y")]
    b = [(0, 2.0000001, "y"), (1, 0.1234501, "x")]
    assert gen.canonical_rows(a) == gen.canonical_rows(b)
    assert gen.canonical_rows(a) != gen.canonical_rows([(1, 0.2, "x"), (0, 2.0, "y")])
