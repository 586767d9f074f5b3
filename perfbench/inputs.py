"""Seeded input generators and the independent answers they imply.

Every generator draws from ``numpy.random.default_rng`` seeded by the
workload seed, so one seed gives byte-identical inputs. Alongside each
input the generator returns what the benchmark checks the program
against, computed here in plain Python/numpy without Spark:

* people  -> the blocked-pair count and the true duplicate pairs;
* docs    -> the set of planted duplicate documents;
* vectors -> the exact cosine top-k of every query.
"""

from __future__ import annotations

import csv
from collections import Counter
from dataclasses import dataclass

import numpy as np

# --------------------------------------------------------------------------
# Febrl-shaped people


FEBRL_COLUMNS = [
    "rec_id", "given_name", "surname", "street_number", "address_1",
    "address_2", "suburb", "postcode", "state", "date_of_birth", "age",
    "phone_number", "soc_sec_id", "blocking_number",
]

_STATES = np.array(["nsw", "vic", "qld", "wa", "sa", "tas", "act", "nt", ""])
# nsw ~29%: the skewed block that takes Dis-Dedup's heavy-block path
_STATE_P = np.array([29, 20, 15, 10, 8, 5, 4, 3, 6], dtype=float) / 100.0
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_DIGITS = np.array(list("0123456789"))
# fields a duplicate may have corrupted, with their corruption kind
_CORRUPTIBLE = [
    ("given_name", "typo"), ("surname", "typo"), ("address_1", "typo"),
    ("suburb", "typo"), ("postcode", "digit"), ("phone_number", "digit"),
    ("soc_sec_id", "digit"), ("soc_sec_id", "replace"), ("date_of_birth", "digit"),
    ("state", "replace"), ("blocking_number", "replace"), ("street_number", "missing"),
]


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` random lowercase words with lengths in [lo, hi]."""
    lens = rng.integers(lo, hi + 1, size=n)
    chars = rng.choice(_LETTERS, size=(n, hi))
    return np.array(["".join(chars[i, : lens[i]]) for i in range(n)])


def _exact(rng: np.random.Generator, values, p, n: int) -> np.ndarray:
    """``n`` draws of ``values`` in exactly the proportions ``p``
    (largest remainders), shuffled: the seed moves who gets what, not
    how many, so input sizes and block sizes stay fixed across seeds."""
    p = np.asarray(p, dtype=float) / np.sum(p)
    counts = np.floor(p * n).astype(int)
    counts[np.argsort(counts - p * n)[: n - counts.sum()]] += 1
    return rng.permutation(np.repeat(np.asarray(values), counts))


def _typo(rng: np.random.Generator, s: str, alphabet: np.ndarray) -> str:
    if not s:
        return s
    op = int(rng.integers(4))
    i = int(rng.integers(len(s)))
    c = str(alphabet[rng.integers(len(alphabet))])
    if op == 0:
        return s[:i] + c + s[i + 1:]
    if op == 1 and len(s) > 1:
        return s[:i] + s[i + 1:]
    if op == 2:
        return s[:i] + c + s[i:]
    if i + 1 < len(s):
        return s[:i] + s[i + 1] + s[i] + s[i + 2:]
    return s[:i] + c


@dataclass
class People:
    rows: list[list[str]]  # FEBRL_COLUMNS order, all strings ("" = missing)
    blocked_pairs: int  # distinct pairs sharing blocking_number or state
    block_workload: int  # Dis-Dedup's W: sum over blocks of C(n, 2)
    true_pairs: set[tuple[str, str]]  # (id1, id2), id1 < id2, same person

    def write_csv(self, path: str) -> None:
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(FEBRL_COLUMNS)
            w.writerows(self.rows)


def make_people(seed: int, n_originals: int) -> People:
    """Originals, household members and corrupted duplicates.

    Household members share surname, address and phone with another
    original but are different people (hard negatives); duplicates get
    one to five corruptions, some of which break a blocking key or
    replace ``soc_sec_id`` outright (hard positives). Both keep
    blocking recall and the classifier's quality below 1.0.
    """
    rng = np.random.default_rng(seed)
    given = _words(rng, 60, 3, 8)
    sur = _words(rng, 80, 4, 9)
    streets = np.char.add(_words(rng, 40, 4, 9), " st")
    suburbs = _words(rng, 40, 5, 10)
    n = n_originals
    cols = {
        "given_name": given[rng.integers(len(given), size=n)],
        "surname": sur[rng.integers(len(sur), size=n)],
        "street_number": rng.integers(1, 300, size=n).astype(str),
        "address_1": streets[rng.integers(len(streets), size=n)],
        "address_2": np.where(
            rng.random(n) < 0.5, "", np.char.add("unit ", rng.integers(1, 20, size=n).astype(str))
        ),
        "suburb": suburbs[rng.integers(len(suburbs), size=n)],
        "postcode": rng.integers(2000, 7000, size=n).astype(str),
        "state": _exact(rng, _STATES, _STATE_P, n),
        "date_of_birth": np.char.add(
            "19", rng.integers(300101, 991229, size=n).astype(str)
        ),
        "age": rng.integers(18, 95, size=n).astype(str),
        "phone_number": np.char.add("0", rng.integers(200000000, 999999999, size=n).astype(str)),
        "soc_sec_id": rng.integers(10**6, 10**7, size=n).astype(str),
        "blocking_number": _exact(rng, np.arange(10).astype(str), np.ones(10), n),
    }
    for name, frac in (("street_number", 0.05), ("date_of_birth", 0.08), ("age", 0.08)):
        cols[name] = np.where(rng.random(n) < frac, "", cols[name])
    # household members copy the household fields of another original
    # in the same state; duplicate counts are exact within each state
    n_dups = np.zeros(n, dtype=int)
    for state in _STATES:
        group = np.flatnonzero(cols["state"] == state)
        n_dups[group] = _exact(rng, np.arange(4), [0.5, 0.3, 0.15, 0.05], len(group))
        house = group[1:][rng.random(len(group) - 1) < 0.12]
        src = group[(np.searchsorted(group, house) * rng.random(len(house))).astype(int)]
        for name in ("surname", "street_number", "address_1", "address_2", "suburb",
                     "postcode", "phone_number"):
            cols[name][house] = cols[name][src]
    originals = [[cols[c][i] for c in FEBRL_COLUMNS[1:]] for i in range(n)]

    col_idx = {c: j for j, c in enumerate(FEBRL_COLUMNS[1:])}
    rows: list[list[str]] = []
    for i in range(n):
        rows.append([f"rec-{i}-org", *originals[i]])
        for d in range(n_dups[i]):
            dup = list(originals[i])
            for k in rng.choice(len(_CORRUPTIBLE), size=int(rng.integers(1, 6)), replace=False):
                field, kind = _CORRUPTIBLE[k]
                j = col_idx[field]
                if kind == "typo":
                    dup[j] = _typo(rng, dup[j], _LETTERS)
                elif kind == "digit":
                    dup[j] = _typo(rng, dup[j], _DIGITS)
                elif kind == "missing":
                    dup[j] = ""
                elif field == "state":
                    dup[j] = str(_STATES[rng.choice(len(_STATES), p=_STATE_P)])
                elif field == "blocking_number":
                    dup[j] = str(rng.integers(0, 10))
                else:
                    dup[j] = str(rng.integers(10**6, 10**7))
            rows.append([f"rec-{i}-dup-{d}", *dup])
    rows = [rows[i] for i in rng.permutation(len(rows))]

    bn = [r[FEBRL_COLUMNS.index("blocking_number")] for r in rows]
    st = [r[FEBRL_COLUMNS.index("state")] for r in rows]

    def pairs(keys) -> int:
        return sum(c * (c - 1) // 2 for c in Counter(keys).values())

    # |same bn| + |same state| - |same both|: each blocked pair once
    workload = pairs(bn) + pairs(st)
    blocked = workload - pairs(zip(bn, st))
    by_person: dict[str, list[str]] = {}
    for r in rows:
        by_person.setdefault(r[0].split("-")[1], []).append(r[0])
    true_pairs = {
        (min(a, b), max(a, b))
        for ids in by_person.values()
        for x, a in enumerate(ids)
        for b in ids[x + 1:]
    }
    return People(rows, blocked, workload, true_pairs)


# --------------------------------------------------------------------------
# Text corpus for near-duplicate curation


@dataclass
class Docs:
    doc_id: np.ndarray  # int64
    text: list[str]
    planted: set[int]  # ids that duplicate an earlier document


def make_docs(seed: int, n_originals: int, vocab: int = 20000) -> Docs:
    """Zipf-vocabulary originals plus planted duplicates.

    * exact duplicates: case and whitespace variants of an original;
    * near-duplicate chains: each member re-draws a fraction of its
      predecessor's tokens, so consecutive shingle Jaccard values
      straddle the 0.3 curation threshold;
    * one boilerplate family sharing a long token block (a hot LSH
      bucket; its members are distinct documents, not planted);
    * a few documents too short for the quality gate.

    Originals take the lowest ids, so the min-id survivor of every
    planted group is the original.
    """
    rng = np.random.default_rng(seed)
    words = _words(rng, vocab, 2, 9)
    p = 1.0 / (np.arange(vocab) + 2.7)
    p /= p.sum()

    lens = rng.integers(40, 301, size=n_originals)
    toks = rng.choice(vocab, size=int(lens.sum()), p=p)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    docs_tok = [toks[bounds[i]: bounds[i + 1]] for i in range(n_originals)]
    texts = [" ".join(words[t]) for t in docs_tok]
    planted: set[int] = set()

    def add(text: str, is_dup: bool) -> None:
        if is_dup:
            planted.add(len(texts))
        texts.append(text)

    roots = rng.permutation(n_originals)
    n_exact = n_originals // 20
    n_chain = n_originals // 3
    chain_len = _exact(rng, [1, 2, 3], [1, 1, 1], n_chain)
    for i in roots[:n_exact]:
        w = words[docs_tok[i]].astype(object)
        upper = rng.random(len(w)) < 0.3
        w[upper] = [s.upper() for s in w[upper]]
        seps = np.where(rng.random(len(w) - 1) < 0.2, "  ", " ")
        text = "".join(a + b for a, b in zip(w[:-1], seps)) + w[-1]
        add(text if rng.random() < 0.5 else f"  {text}\n", True)
    # redraw fractions evenly spread over [0.05, 0.25], shuffled
    fracs = iter(rng.permutation(np.linspace(0.05, 0.25, int(chain_len.sum()))))
    for i, length in zip(roots[n_exact: n_exact + n_chain], chain_len):
        cur = docs_tok[i]
        for _ in range(length):
            cur = cur.copy()
            redraw = rng.random(len(cur)) < next(fracs)
            cur[redraw] = rng.choice(vocab, size=int(redraw.sum()), p=p)
            add(" ".join(words[cur]), True)
    # members share 120 tokens and add only 10-30 of their own, so every
    # pair's shingle Jaccard is above 0.6 and LSH links the family
    # almost as a clique: its labels settle within two propagation
    # rounds whatever the seed, and the chains, three links long, set
    # the round count
    boiler = " ".join(words[rng.choice(vocab, size=120, p=p)])
    for _ in range(max(n_originals // 40, 2)):
        own = rng.choice(vocab, size=int(rng.integers(10, 31)), p=p)
        add(f"{boiler} {' '.join(words[own])}", False)
    for _ in range(max(n_originals // 50, 1)):
        add(" ".join(words[rng.choice(vocab, size=int(rng.integers(3, 25)), p=p)]), False)
    return Docs(np.arange(len(texts), dtype=np.int64), texts, planted)


# --------------------------------------------------------------------------
# Embedding vectors for IVF-PQ search


@dataclass
class Vectors:
    corpus: np.ndarray  # (n, dim) float32, row i has vec_id i
    query_ids: np.ndarray  # int64 ids drawn from the corpus
    exact_topk: dict[int, set[int]]  # query id -> exact cosine top-k ids


def make_vectors(
    seed: int, n: int, dim: int, n_centres: int, n_queries: int, k: int
) -> Vectors:
    """Gaussian mixture with equal-sized clusters around mutually
    orthogonal centres of norm sqrt(dim), randomly rotated: the seed
    moves the geometry, not its shape, so recall varies little between
    seeds. Queries are corpus rows spread evenly over the clusters. The
    exact top-k excludes the query itself, as the IVF-PQ path does."""
    rng = np.random.default_rng(seed)
    rotation, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
    centres = (np.sqrt(dim) * rotation[:n_centres]).astype(np.float32)
    cluster = _exact(rng, np.arange(n_centres), np.ones(n_centres), n)
    x = centres[cluster] + 1.6 * rng.standard_normal((n, dim)).astype(np.float32)
    members = [rng.permutation(np.flatnonzero(cluster == c)) for c in range(n_centres)]
    qids = np.sort([members[j % n_centres][j // n_centres] for j in range(n_queries)])
    unit = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = unit[qids] @ unit.T
    sims[np.arange(n_queries), qids] = -np.inf
    top = np.argpartition(-sims, k, axis=1)[:, :k]
    exact = {int(q): set(int(j) for j in row) for q, row in zip(qids, top)}
    return Vectors(x, qids.astype(np.int64), exact)
