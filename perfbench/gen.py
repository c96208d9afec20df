"""Seeded input generator for the benchmark workloads.

Pure numpy/Python: no Spark, no file I/O. Every table is a dict of
equal-length lists, so the caller decides where the inputs live. The
same seed gives identical inputs; each workload derives its own rng
stream from the seed so sizes can change per workload without shifting
the others.

Names and documents are built from a Zipf-distributed vocabulary of
pronounceable consonant-vowel syllable terms, so different terms share
character n-grams the way real names and text do (a base-N or
digit-suffixed vocabulary would make every n-gram either unique or
shared by all rows).
"""

from __future__ import annotations

import numpy as np

CONSONANTS = "bcdfghjklmnprstvwz"
VOWELS = "aeiou"
ZIPF_S = 1.07
# name stopwords: an optional leading article and legal-form suffix,
# the tokens a "swapped stopword" perturbation exchanges
ARTICLES = ("the", "a")
SUFFIXES = ("inc", "co", "ltd", "llc", "corp", "group")

LEFT_PER_RIGHT = 2  # dirty left rows per entity

LINK_SEED_SALT = 1
DEDUP_SEED_SALT = 2
SERVE_SEED_SALT = 3


def rng_for(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), salt])


def zipf_vocab(rng: np.random.Generator, n_terms: int) -> list[str]:
    """``n_terms`` unique terms of 2-4 consonant-vowel syllables."""
    sylls = [c + v for c in CONSONANTS for v in VOWELS]
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n_terms:
        k = int(rng.integers(2, 5))
        t = "".join(sylls[int(i)] for i in rng.integers(0, len(sylls), k))
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def zipf_probs(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
    return p / p.sum()


# ------------------------------------------------------------ entities


def _entity_names(rng, vocab: list[str], n: int, taken: set[str]) -> list[str]:
    """``n`` distinct entity names not in ``taken``: an optional article,
    2-5 tokens from the vocabulary's mid-frequency band, an optional
    legal-form suffix. ``taken`` is updated in place."""
    mid = vocab[100:3000]
    out: list[str] = []
    while len(out) < n:
        toks = [mid[int(i)] for i in rng.integers(0, len(mid), int(rng.integers(2, 6)))]
        if rng.random() < 0.3:
            toks.insert(0, ARTICLES[int(rng.integers(0, len(ARTICLES)))])
        if rng.random() < 0.5:
            toks.append(SUFFIXES[int(rng.integers(0, len(SUFFIXES)))])
        name = " ".join(toks)
        if name not in taken:
            taken.add(name)
            out.append(name)
    return out


def _is_stopword(tok: str) -> bool:
    return tok in ARTICLES or tok in SUFFIXES


def perturb_name(rng, name: str) -> str:
    """One edit a user's dirty copy of a name would carry: a dropped
    token, a deleted character or a swapped stopword."""
    toks = name.split(" ")
    content = [i for i, t in enumerate(toks) if not _is_stopword(t)]
    kind = int(rng.integers(0, 3))
    if kind == 0 and len(content) >= 3:
        del toks[content[int(rng.integers(0, len(content)))]]
    elif kind == 2:
        stops = [i for i, t in enumerate(toks) if _is_stopword(t)]
        if stops:
            i = stops[int(rng.integers(0, len(stops)))]
            pool = ARTICLES if toks[i] in ARTICLES else SUFFIXES
            toks[i] = pool[(pool.index(toks[i]) + 1 + int(rng.integers(0, len(pool) - 1))) % len(pool)]
        else:
            toks.append(SUFFIXES[int(rng.integers(0, len(SUFFIXES)))])
    else:
        i = content[int(rng.integers(0, len(content)))]
        t = toks[i]
        p = int(rng.integers(0, len(t)))
        toks[i] = t[:p] + t[p + 1:]
    return " ".join(toks)


def link_tables(seed: int, n_right: int) -> dict:
    """``right``: (rid, name) distinct entity names. ``left``: (lid, name,
    true_rid), ``LEFT_PER_RIGHT`` perturbed copies of each right row in
    shuffled order; ``true_rid`` is the planted answer and is not part
    of the input handed to the program."""
    rng = rng_for(seed, LINK_SEED_SALT)
    vocab = zipf_vocab(rng, 12_000)
    names = _entity_names(rng, vocab, n_right, set())
    true = np.repeat(np.arange(n_right), LEFT_PER_RIGHT)
    rng.shuffle(true)
    return {
        "right": {"rid": list(range(n_right)), "name": names},
        "left": {
            "lid": list(range(len(true))),
            "name": [perturb_name(rng, names[int(r)]) for r in true],
            "true_rid": [int(r) for r in true],
        },
    }


# --------------------------------------------------------------- dedup

# planted near-dup clusters: (cluster size, per-token substitution rate)
# pairs; rates around 0.02-0.04 put word-3-shingle Jaccard near the
# 0.8 default threshold, so some planted pairs fall on each side of it
CLUSTER_SIZES = (2, 3, 5, 8)
EDIT_RATES = (0.0, 0.01, 0.02, 0.03, 0.04, 0.06)
DUP_SHARE = 0.3  # of the rows, in planted clusters
CLIQUE_SIZE = 40


def dedup_table(seed: int, n_docs: int) -> dict:
    """``docs``: (doc_id, text) in shuffled id order. About ``DUP_SHARE``
    of the rows belong to planted near-dup clusters of mixed sizes and
    edit rates; ``CLIQUE_SIZE`` rows are one verbatim boilerplate text
    (a hot bucket in every LSH band). ``clusters`` lists the planted
    groups as doc-id lists (the clique included) — ground truth kept
    by the benchmark, not handed to the program."""
    rng = rng_for(seed, DEDUP_SEED_SALT)
    vocab = np.array(zipf_vocab(rng, 12_000))
    # one Zipf draw for every token the corpus can need (a weighted
    # choice per document costs more than the rest of the generator)
    stream = vocab[rng.choice(len(vocab), size=90 * n_docs + 100, p=zipf_probs(len(vocab)))].tolist()
    pos = 0

    def draw(n: int) -> list[str]:
        nonlocal pos
        pos += n
        return stream[pos - n:pos]

    def fresh_doc() -> list[str]:
        return draw(int(rng.integers(30, 81)))

    texts: list[str] = []
    groups: list[list[int]] = []
    boiler = " ".join(fresh_doc())
    groups.append(list(range(CLIQUE_SIZE)))
    texts.extend([boiler] * CLIQUE_SIZE)
    while len(texts) - CLIQUE_SIZE < int(n_docs * DUP_SHARE):
        size = CLUSTER_SIZES[int(rng.integers(0, len(CLUSTER_SIZES)))]
        rate = EDIT_RATES[int(rng.integers(0, len(EDIT_RATES)))]
        base = fresh_doc()
        start = len(texts)
        for _ in range(size):
            doc = list(base)
            for i in np.nonzero(rng.random(len(doc)) < rate)[0]:
                doc[int(i)] = draw(1)[0]
            texts.append(" ".join(doc))
        groups.append(list(range(start, start + size)))
    while len(texts) < n_docs:
        texts.append(" ".join(fresh_doc()))
    # shuffle ids so planted groups are not contiguous id ranges
    perm = rng.permutation(len(texts))  # old position -> new id
    ordered = [""] * len(texts)
    for old, new in enumerate(perm):
        ordered[int(new)] = texts[old]
    return {
        "docs": {"doc_id": list(range(len(texts))), "text": ordered},
        "clusters": [[int(perm[i]) for i in g] for g in groups],
    }


# --------------------------------------------------------------- serve

# request i is a write when i % WRITE_EVERY == WRITE_AT: one request in
# five, the first one early so a short run still measures a write
WRITE_EVERY = 5
WRITE_AT = 1
READ_BATCH = 16  # query names per read
WRITE_BATCH = 50  # new entities per write
FRESH_PER_READ = 4  # just-written names the next read queries verbatim


def serve_stream(seed: int, n_ref: int, n_requests: int) -> dict:
    """Reference corpus plus a closed-loop request stream.

    ``ref``: (vec_id, name). ``requests``: dicts with ``kind`` "read"
    (``qid``/``name`` lists: perturbed copies of indexed names) or
    "write" (``vec_id``/``name`` lists of new entities, ids continuing
    after the corpus). The read right after a write queries
    ``FRESH_PER_READ`` of the written names verbatim — the
    read-your-writes probe — listed in ``exact_ids``."""
    rng = rng_for(seed, SERVE_SEED_SALT)
    vocab = zipf_vocab(rng, 12_000)
    taken: set[str] = set()
    ref_names = _entity_names(rng, vocab, n_ref, taken)
    indexed = list(ref_names)
    requests: list[dict] = []
    next_qid = 0
    pending: list[tuple[int, str]] = []
    for i in range(n_requests):
        if i % WRITE_EVERY == WRITE_AT:
            names = _entity_names(rng, vocab, WRITE_BATCH, taken)
            ids = list(range(len(indexed), len(indexed) + WRITE_BATCH))
            indexed.extend(names)
            requests.append({"kind": "write", "vec_id": ids, "name": names})
            pick = rng.choice(WRITE_BATCH, size=FRESH_PER_READ, replace=False)
            pending = [(ids[int(j)], names[int(j)]) for j in sorted(pick)]
            continue
        exact = pending
        pending = []
        names = [n for _, n in exact]
        for j in rng.integers(0, len(indexed), READ_BATCH - len(exact)):
            names.append(perturb_name(rng, indexed[int(j)]))
        requests.append({
            "kind": "read",
            "qid": list(range(next_qid, next_qid + len(names))),
            "name": names,
            "exact_ids": [vid for vid, _ in exact],
        })
        next_qid += len(names)
    return {"ref": {"vec_id": list(range(n_ref)), "name": ref_names},
            "requests": requests}
