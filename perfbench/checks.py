"""Correctness checks and quality metrics, computed by the benchmark on
its own (numpy / plain Python), never through the program under test.

Each ``check_*`` returns a list of human-readable failures; an empty
list means the check passed.
"""

from __future__ import annotations

import re

import numpy as np

SCORE_TOL = 1e-9
_WS = re.compile(r"\s+", re.ASCII)


def top1_ties(Q: np.ndarray, R: np.ndarray) -> tuple[np.ndarray, list[set[int]]]:
    """Exact cosine top-1 of each row of ``Q`` over ``R`` (both
    L2-normalized): best score per row and the set of row indices of
    ``R`` that reach it within ``SCORE_TOL``."""
    S = Q @ R.T
    best = S.max(axis=1)
    ties = [set(np.nonzero(S[i] >= best[i] - SCORE_TOL)[0].tolist()) for i in range(len(S))]
    return best, ties


def check_merge_top1(got: dict[int, tuple[int, float]], sample: list[int],
                     Q: np.ndarray, R: np.ndarray, right_ids: list[int]) -> list[str]:
    """``got`` maps left id -> (right id, score) from the merge output;
    ``Q`` holds the vectors of the ``sample`` left ids in order, ``R``
    the vectors of ``right_ids`` in order. Each sampled left row must
    be matched to an exact top-1 right row (any of a tie) at the exact
    score."""
    best, ties = top1_ties(Q, R)
    pos = {rid: i for i, rid in enumerate(right_ids)}
    errs = []
    for i, lid in enumerate(sample):
        if lid not in got:
            errs.append(f"left {lid}: missing from merge output")
            continue
        rid, score = got[lid]
        if pos.get(rid) not in ties[i]:
            errs.append(f"left {lid}: matched right {rid}, exact top-1 is one of "
                        f"{sorted(right_ids[j] for j in ties[i])[:5]}")
        elif abs(score - best[i]) > 1e-6:
            errs.append(f"left {lid}: score {score} != exact {best[i]}")
    return errs


def recall_at_1(got: dict[int, tuple[int, float]], truth: dict[int, int]) -> float:
    return sum(1 for lid, rid in truth.items() if got.get(lid, (None,))[0] == rid) / len(truth)


# --------------------------------------------------------------- dedup


def word_shingles(text: str, n: int = 3) -> set[str]:
    """Distinct lowercased word ``n``-grams; a text with fewer than ``n``
    tokens is one whole-text shingle (the library's documented
    ``near_dup_pairs_minhash`` shingling at ``word=True``)."""
    toks = [t for t in _WS.split(text.lower()) if t]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    inter = len(a & b)
    return inter / max(len(a) + len(b) - inter, 1)


class UnionFind:
    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        root = self.parent.setdefault(x, x)
        while root != self.parent[root]:
            root = self.parent[root]
        while x != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)

    def components(self) -> list[list[int]]:
        groups: dict[int, list[int]] = {}
        for x in list(self.parent):
            groups.setdefault(self.find(x), []).append(x)
        return list(groups.values())


def components_of(pairs) -> list[list[int]]:
    uf = UnionFind()
    for a, b in pairs:
        uf.union(int(a), int(b))
    return uf.components()


def check_dedup(pairs: list[tuple[int, int, float]], survivors: list[int],
                texts: dict[int, str], threshold: float) -> list[str]:
    """Every reported pair has exact Jaccard >= ``threshold`` (and the
    reported value matches), and the survivors are exactly the rows
    outside any pair plus the min id of each pair component, so their
    count is docs - sum(component size - 1)."""
    errs = []
    sh: dict[int, set[str]] = {}
    for a, b, jac in pairs:
        for x in (a, b):
            if x not in sh:
                sh[x] = word_shingles(texts[x])
        exact = jaccard(sh[a], sh[b])
        if exact < threshold or abs(exact - jac) > 1e-9:
            errs.append(f"pair ({a}, {b}): reported jaccard {jac}, exact {exact:.6f}")
    comps = components_of((a, b) for a, b, _ in pairs)
    want_n = len(texts) - sum(len(c) - 1 for c in comps)
    if len(survivors) != want_n:
        errs.append(f"{len(survivors)} survivors, expected {want_n} "
                    f"(docs {len(texts)} - sum(component size - 1))")
    in_pair = {x for c in comps for x in c}
    want = (set(texts) - in_pair) | {min(c) for c in comps}
    got = set(survivors)
    if got != want:
        errs.append(f"survivor set differs: {len(got - want)} unexpected, "
                    f"{len(want - got)} missing")
    return errs


def planted_pairs(clusters: list[list[int]], texts: dict[int, str],
                  threshold: float) -> set[tuple[int, int]]:
    """Within-cluster pairs (src < dst) whose exact Jaccard reaches the
    threshold — the pairs a correct near-dup search must find."""
    out = set()
    for c in clusters:
        sh = {x: word_shingles(texts[x]) for x in c}
        for i, a in enumerate(c):
            for b in c[i + 1:]:
                if jaccard(sh[a], sh[b]) >= threshold:
                    out.add((min(a, b), max(a, b)))
    return out


def pair_recall(found: set[tuple[int, int]], planted: set[tuple[int, int]]) -> float:
    return len(planted & found) / max(len(planted), 1)


# --------------------------------------------------------------- serve


def recall_at_k(served: list[int], q: np.ndarray, V: np.ndarray, k: int) -> float:
    """Share of the exact top-``k`` of ``q`` over the rows of ``V`` that
    ``served`` (row indices of ``V``) contains; a served row tied with
    the exact k-th score counts as a hit."""
    s = V @ q
    kk = min(k, len(s))
    kth = np.partition(s, len(s) - kk)[len(s) - kk]
    hits = sum(1 for j in set(served) if s[j] >= kth - SCORE_TOL)
    return min(hits, kk) / kk


def check_read_your_writes(ranked: dict[int, list[tuple[int, float]]],
                           probes: list[tuple[int, int]]) -> list[str]:
    """``ranked`` maps query id -> [(neighbor id, score)] in rank order;
    each ``(query id, written id)`` probe queried a just-written entity
    by its exact name, so the written id must hold rank 1 (or tie
    with the rank-1 score)."""
    errs = []
    for qid, vid in probes:
        res = ranked.get(qid, [])
        top = res[0][1] if res else None
        if not any(n == vid and s >= top - SCORE_TOL for n, s in res):
            errs.append(f"query {qid}: written id {vid} not at rank 1 "
                        f"(got {[n for n, _ in res[:3]]})")
    return errs
