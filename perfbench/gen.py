"""Seeded inputs for the serve workloads, and the checker of their answers.

The generator draws vectors from a Gaussian mixture. `Mirror` holds the
benchmark's own numpy copy of every namespace's live rows; the benchmark
applies each write and delete it sends to the engine to the mirror too, so
the mirror always knows the exact top-k a search must return.

The engine scores l2 as the squared distance rounded to 4 decimals and
breaks ties by ascending id. The checker therefore accepts any returned
row whose true distance is within `TOL` of the k-th best distance, and
checks each reported score against the true distance with the same
tolerance.
"""

from __future__ import annotations

import numpy as np

DIM = 64
TOL = 2e-4


class Mixture:
    """Gaussian mixture: `centers` random centres, each draw a centre plus
    isotropic noise of standard deviation `spread` (both times `scale`)."""

    def __init__(
        self, rng: np.random.Generator, dim: int = DIM, centers: int = 16,
        spread: float = 0.35, scale: float = 1.0,
    ) -> None:
        self.centers = rng.normal(size=(centers, dim)) * scale
        self.sigma = spread * scale

    def draw(self, rng: np.random.Generator, n: int, labels: bool = False):
        """n float32 vectors (and their centre labels when asked)."""
        lab = rng.integers(0, len(self.centers), size=n)
        noise = rng.normal(size=(n, self.centers.shape[1])) * self.sigma
        x = (self.centers[lab] + noise).astype(np.float32)
        return (x, lab.astype(np.int32)) if labels else x


def noisy(rng: np.random.Generator, v: np.ndarray, sigma: float = 0.05) -> list[float]:
    """A query near a stored vector, as the list of floats a client sends."""
    return (v.astype(np.float64) + rng.normal(size=v.shape) * sigma).tolist()


class Mirror:
    """Live rows per namespace: ids, float32 vectors, and an id → row map."""

    def __init__(self, dim: int = DIM) -> None:
        self.dim = dim
        self._ids: dict[str, list[str]] = {}
        self._x: dict[str, np.ndarray] = {}
        self._pos: dict[str, dict[str, int]] = {}

    def count(self, ns: str) -> int:
        return len(self._ids.get(ns, ()))

    def ids(self, ns: str) -> list[str]:
        return list(self._ids.get(ns, ()))

    def vector(self, ns: str, vid: str) -> np.ndarray:
        return self._x[ns][self._pos[ns][vid]]

    def has(self, ns: str, vid: str) -> bool:
        return vid in self._pos.get(ns, {})

    def rows(self, ns: str) -> dict[str, int]:
        """id → row of `distances(ns, q)`."""
        return self._pos.get(ns, {})

    def pick(self, ns: str, rng: np.random.Generator) -> str:
        """A live id drawn uniformly."""
        ids = self._ids[ns]
        return ids[int(rng.integers(len(ids)))]

    def upsert(self, ns: str, ids, vectors) -> None:
        ids_l = self._ids.setdefault(ns, [])
        pos = self._pos.setdefault(ns, {})
        x = self._x.get(ns)
        if x is None:
            x = self._x[ns] = np.empty((0, self.dim), np.float32)
        vectors = np.asarray(vectors, np.float32).reshape(-1, self.dim)
        new = [i for i in ids if i not in pos]
        if len(ids_l) + len(new) > len(x):
            grown = np.empty((max(2 * len(x), len(ids_l) + len(new)), self.dim), np.float32)
            grown[: len(ids_l)] = x[: len(ids_l)]
            x = self._x[ns] = grown
        for vid, v in zip(ids, vectors):
            p = pos.get(vid)
            if p is None:
                p = pos[vid] = len(ids_l)
                ids_l.append(vid)
            x[p] = v

    def delete(self, ns: str, ids) -> None:
        ids_l, pos, x = self._ids[ns], self._pos[ns], self._x[ns]
        for vid in ids:
            p = pos.pop(vid)
            last = len(ids_l) - 1
            if p != last:
                moved = ids_l[last]
                ids_l[p] = moved
                x[p] = x[last]
                pos[moved] = p
            ids_l.pop()

    def distances(self, ns: str, q) -> np.ndarray:
        x = self._x[ns][: self.count(ns)].astype(np.float64)
        d = x - np.asarray(q, np.float64)
        return np.einsum("ij,ij->i", d, d)

    def kth(self, ns: str, q, k: int) -> tuple[np.ndarray, float]:
        """All live distances and the k-th smallest of them."""
        d = self.distances(ns, q)
        k = min(k, len(d))
        return d, float(np.partition(d, k - 1)[k - 1]) if k else 0.0


def check_topk(mirror: Mirror, ns: str, q, k: int, matches) -> str | None:
    """None when `matches` (dicts with id and score) is a correct l2 top-k
    of namespace `ns` for query q; otherwise the reason it is not."""
    n_live = mirror.count(ns)
    if len(matches) != min(k, n_live):
        return f"{len(matches)} matches, expected {min(k, n_live)}"
    d, dk = mirror.kth(ns, q, k)
    pos = mirror.rows(ns)
    seen = set()
    prev = -np.inf
    for m in matches:
        vid, score = str(m["id"]), float(m["score"])
        if vid in seen:
            return f"id {vid} returned twice"
        seen.add(vid)
        p = pos.get(vid)
        if p is None:
            return f"id {vid} is not live"
        true = d[p]
        if abs(score - true) > TOL + 1e-6 * true:
            return f"id {vid} score {score} != {true:.6f}"
        if true > dk + TOL + 1e-6 * dk:
            return f"id {vid} at {true:.6f} is beyond the k-th distance {dk:.6f}"
        if score < prev - TOL:
            return "scores not in ascending order"
        prev = score
    return None


def recall(mirror: Mirror, ns: str, q, k: int, matches) -> float:
    """Share of the true top-k found; rows tied with the k-th within the
    rounding tolerance count as true neighbours."""
    d, dk = mirror.kth(ns, q, k)
    pos = mirror.rows(ns)
    good = sum(
        1 for m in matches
        if str(m["id"]) in pos and d[pos[str(m["id"])]] <= dk + TOL + 1e-6 * dk
    )
    return min(good, k) / max(1, min(k, mirror.count(ns)))


def check_scores(mirror: Mirror, ns: str, q, matches) -> str | None:
    """Every returned row is live and reports its true distance."""
    d = mirror.distances(ns, q)
    pos = mirror.rows(ns)
    for m in matches:
        p = pos.get(str(m["id"]))
        if p is None:
            return f"id {m['id']} is not live"
        if abs(float(m["score"]) - d[p]) > TOL + 1e-6 * d[p]:
            return f"id {m['id']} score {m['score']} != {d[p]:.6f}"
    return None


def canonical_rows(rows, places: int = 3) -> list[tuple]:
    """Order-insensitive form of a result: floats rounded, rows sorted."""
    def cell(v):
        if isinstance(v, float):
            return round(v, places) + 0.0
        if isinstance(v, (list, tuple)):
            return tuple(cell(x) for x in v)
        return v

    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)
