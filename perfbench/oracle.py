"""Independent re-derivation of the engine's outputs, in plain Python.

Nothing here imports the engine. The rules are restated from the
documented semantics (the kg oracle in ``testdata/kg_oracle.py`` and the
``Resolver`` docstrings):

- a surface (term name or any synonym, lowercased) is mentioned when it is
  a substring of the lowercased passage;
- the model is the deterministic hashed bag-of-words embedding: each
  ``[a-z0-9]+`` token of the lowercased text maps to a unit float32 vector
  seeded from its sha256, the text vector is the normalized float32 sum;
- batch triples: per term, the certainty is ``(1 + cos) / 2`` with the
  cosine folded left to right in doubles; the top-k terms by certainty are
  reranked by exactness bonus plus certainty; the winner is replaced by its
  canonical id, the least term id of its cross-reference component;
- resolve: recall is the surface hits by similarity, filled up to k with
  the vector top-k, then reranked the same way.

Only the numeric kernels are shared with numpy: the float32 token sums and,
for ``resolve``, the float32 matrix-vector product, so the similarities are
the same bits the engine sees and every comparison can be exact.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np

DIM = 64
_TOKEN = re.compile(r"[a-z0-9]+")


class Embedder:
    """The hashed bag-of-words model, with a per-token cache."""

    def __init__(self, dim: int = DIM):
        self.dim = dim
        self._tok: dict[str, np.ndarray] = {}

    def _token(self, tok: str) -> np.ndarray:
        v = self._tok.get(tok)
        if v is None:
            seed = int.from_bytes(hashlib.sha256(tok.encode("utf-8")).digest()[:8], "big")
            v = np.random.Generator(np.random.PCG64(seed)).standard_normal(self.dim)
            v = v.astype(np.float32)
            v /= np.linalg.norm(v)
            self._tok[tok] = v
        return v

    def __call__(self, text: str) -> np.ndarray:
        acc = np.zeros(self.dim, dtype=np.float32)
        for tok in _TOKEN.findall((text or "").lower()):
            acc += self._token(tok)
        n = np.linalg.norm(acc)
        if n > 0:
            acc /= n
        return acc


def searchable_text(term) -> str:
    syns = [v for _, v in term.synonyms if v]
    return " ".join(p for p in (term.name, term.definition, " ".join(syns)) if p)


def canonical_ids(terms) -> dict[str, str]:
    """term id -> least term id among terms linked by shared xrefs."""
    parent = {t.term_id: t.term_id for t in terms}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    owner: dict[str, str] = {}
    for t in terms:
        for x in (*t.def_xrefs, *t.xrefs, *t.dbxrefs):
            if not x:
                continue
            if x in owner:
                a, b = find(owner[x]), find(t.term_id)
                if a != b:
                    parent[max(a, b)] = min(a, b)
            else:
                owner[x] = t.term_id
    return {t.term_id: find(t.term_id) for t in terms}


class SurfaceIndex:
    """Finds every distinct surface that occurs in a text as a substring."""

    _KEY = 4

    def __init__(self, surfaces):
        self.by_key: dict[str, set[str]] = {}
        self.short: set[str] = set()
        for s in surfaces:
            if len(s) >= self._KEY:
                self.by_key.setdefault(s[: self._KEY], set()).add(s)
            elif s:
                self.short.add(s)

    def find(self, low: str) -> set[str]:
        found = {s for s in self.short if s in low}
        get = self.by_key.get
        for i in range(len(low) - self._KEY + 1):
            cands = get(low[i : i + self._KEY])
            if cands:
                found.update(s for s in cands if low.startswith(s, i))
        return found


def _cosine(a, b) -> float:
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    na, nb = math.sqrt(na), math.sqrt(nb)
    return dot / (na * nb) if na > 0 and nb > 0 else 0.0


class TripleOracle:
    """Expected ``(pred, obj, mention, confidence)`` of one page, or None."""

    def __init__(self, terms, k: int = 5, embed: Embedder | None = None):
        self.k = k
        self.embed = embed or Embedder()
        self.terms = {t.term_id: t for t in terms}
        self.surface_terms: dict[str, set[str]] = {}
        self.exact: set[tuple[str, str]] = set()
        for t in terms:
            for s in t.surfaces():
                if s:
                    self.surface_terms.setdefault(s.lower(), set()).add(t.term_id)
            for s in [t.name, *(v for kind, v in t.synonyms if kind == "exact")]:
                if s:
                    self.exact.add((s.lower(), t.term_id))
        self.index = SurfaceIndex(self.surface_terms)
        self.canonical = canonical_ids(terms)
        self._term_vec: dict[str, list[float]] = {}

    def _vec(self, term_id: str) -> list[float]:
        v = self._term_vec.get(term_id)
        if v is None:
            v = [float(x) for x in self.embed(searchable_text(self.terms[term_id]))]
            self._term_vec[term_id] = v
        return v

    def expected(self, passage: str):
        low = passage.lower()
        mentions: dict[str, list[str]] = {}
        for s in self.index.find(low):
            for tid in self.surface_terms[s]:
                mentions.setdefault(tid, []).append(s)
        if not mentions:
            return None
        pv = [float(x) for x in self.embed(passage)]
        per_term = []
        for tid, ms in mentions.items():
            cert = (1.0 + _cosine(pv, self._vec(tid))) / 2.0
            exact = any((m, tid) in self.exact for m in ms)
            mention = min(ms, key=lambda m: (-len(m), m))
            per_term.append((tid, cert, exact, mention))
        top = sorted(per_term, key=lambda c: (-c[1], c[0]))[: self.k]
        tid, cert, exact, mention = min(
            top, key=lambda c: (-((1.0 if c[2] else 0.0) + c[1]), -c[1], c[0])
        )
        obj = self.canonical[tid]
        conf = float(np.float32(min(1.0, cert + (0.05 if exact else 0.0))))
        return (f"{obj.split(':')[0]}:mapped_to", obj, mention, conf)


class ResolveOracle:
    """Expected ``Resolver.resolve`` answer for one passage (stub rerank)."""

    def __init__(self, terms, k: int = 5, embed: Embedder | None = None):
        self.k = k
        self.embed = embed or Embedder()
        self.terms = list(terms)
        self.ids = [t.term_id for t in self.terms]
        mat = np.array([self.embed(searchable_text(t)) for t in self.terms], dtype=np.float32)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        self.matrix = mat / norms
        self.surface_terms: dict[str, list[int]] = {}
        for i, t in enumerate(self.terms):
            for s in {s.lower() for s in t.surfaces() if s}:
                self.surface_terms.setdefault(s, []).append(i)
        self.index = SurfaceIndex(self.surface_terms)

    def expected(self, passage: str) -> dict:
        q = np.array(self.embed(passage), dtype=np.float32)
        qn = np.linalg.norm(q)
        if qn > 0:
            q = q / qn
        sims = self.matrix @ q
        low = passage.lower()
        ids = self.ids

        def by_sim(i):
            return (-sims[i], ids[i])

        hits = sorted(
            {i for s in self.index.find(low) for i in self.surface_terms[s]}, key=by_sim
        )[: self.k]
        # the k best by (-sim, id): a superset by value, then the exact order
        pool = np.argpartition(-sims, min(len(ids) - 1, self.k + 16))[: self.k + 17]
        vector = sorted((int(i) for i in pool), key=by_sim)[: self.k]
        cands = (hits + [i for i in vector if i not in hits])[: self.k]
        scored = []
        for i in cands:
            t = self.terms[i]
            cert = (1.0 + float(sims[i])) / 2.0
            exact = [t.name, *(v for kind, v in t.synonyms if kind == "exact")]
            hit = next(
                (s for s in sorted(exact, key=lambda s: -len(s)) if s and s.lower() in low),
                None,
            )
            scored.append(((1.0 if hit is not None else 0.0) + cert, cert, hit, t))
        scored.sort(key=lambda c: (-c[0], -c[1], c[3].term_id))
        _, cert, hit, best = scored[0]
        conf = min(1.0, cert + (0.05 if hit is not None else 0.0))
        reason = (
            f"exact surface match '{hit}' for {best.term_id}"
            if hit is not None
            else f"highest embedding certainty for {best.term_id}"
        )
        return {
            "best_match": {
                "id": best.term_id,
                "name": best.name,
                "definition": best.definition,
            },
            "confidence": round(conf, 4),
            "reason": reason,
            "alternatives": [{"id": c[3].term_id, "name": c[3].name} for c in scored[1:]],
            "similarity_certainty": round(cert, 4),
        }
