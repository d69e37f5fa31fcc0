"""Seeded inputs for the benchmark: corpus, query streams and update rounds.

Everything here is a pure function of the seed and the size arguments, so
the same seed gives byte-identical inputs and the program under test only
ever sees what these functions return.  Nothing here imports Spark.

Corpus shape: ``(repo, path, commit, lang, content)`` rows, the engine's
input schema.  Content words follow a Zipf law over a fixed pseudo-word
vocabulary (rank order permuted by the seed) and document lengths are
log-normal, so term document frequencies span head, mid and rare bands.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"

VOCAB_SIZE = 30_000
ZIPF_S = 1.07
LEN_LOG_MEAN = 3.9  # median ~49 content words
LEN_LOG_SIGMA = 0.6
LEN_MIN, LEN_MAX = 4, 400
REPOS = ("acme/core", "acme/web", "labs/ml", "labs/infra")

# df bands for query terms: head = the HEAD_TERMS highest-df words, rare =
# df <= RARE_DF_MAX, mid = everything between
HEAD_TERMS = 60
RARE_DF_MAX = 40
BAND_WEIGHTS = {"head": 0.25, "mid": 0.45, "rare": 0.30}
# terms per query, cycled: every seed and every prefix gets the same mix
QUERY_SHAPES = (1, 2, 3, 2, 1, 2)

_SYLLABLES = (
    "ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu "
    "ma me mi mo mu na ne ni no nu ra re ri ro ru sa se si so su "
    "ta te ti to tu va ve vi vo vu za ze zi zo zu"
).split()


def vocabulary() -> list[str]:
    """VOCAB_SIZE distinct lowercase pseudo-words (base-50 syllable codes,
    at least two syllables), identical for every seed."""
    n = len(_SYLLABLES)
    words = []
    for i in range(VOCAB_SIZE):
        parts, v = [], i + n  # +n: every word has >= 2 syllables
        while v:
            v, r = divmod(v, n)
            parts.append(_SYLLABLES[r])
        words.append("".join(reversed(parts)))
    return words


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): changing how one stream
    is drawn never shifts another."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


@dataclass(frozen=True)
class Doc:
    repo: str
    path: str
    content: str

    @property
    def key(self) -> str:
        """The path the engine reports (``full_path``)."""
        return f"{self.repo}/{self.path}"

    def row(self) -> tuple[str, str, str, str, str]:
        commit = hashlib.sha1(self.content.encode()).hexdigest()
        return (self.repo, self.path, commit, "text", self.content)


class _Writer:
    """Draws document contents for one seed: Zipf word ranks mapped onto a
    seed-permuted vocabulary, log-normal lengths."""

    def __init__(self, seed: int):
        vocab = vocabulary()
        perm = _rng(seed, "vocab").permutation(VOCAB_SIZE)
        self.words = np.array([vocab[i] for i in perm], dtype=object)
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        p = ranks**-ZIPF_S
        self.cdf = np.cumsum(p / p.sum())

    def contents(self, rng: np.random.Generator, n: int) -> list[str]:
        lens = np.clip(
            rng.lognormal(LEN_LOG_MEAN, LEN_LOG_SIGMA, n).astype(np.int64),
            LEN_MIN,
            LEN_MAX,
        )
        idx = np.searchsorted(self.cdf, rng.random(int(lens.sum())))
        idx = np.minimum(idx, VOCAB_SIZE - 1)
        toks = self.words[idx]
        out, pos = [], 0
        for ln in lens:
            out.append(" ".join(toks[pos : pos + ln]))
            pos += ln
        return out


def _doc_path(i: int) -> tuple[str, str]:
    return REPOS[i % len(REPOS)], f"src/m{i % 97:02d}/n{i}.txt"


def make_corpus(n_docs: int, seed: int) -> list[Doc]:
    w = _Writer(seed)
    contents = w.contents(_rng(seed, "corpus"), n_docs)
    return [Doc(*_doc_path(i), c) for i, c in enumerate(contents)]


def content_bytes(docs) -> int:
    """UTF-8 bytes of the documents' content (the denominator of space_amp)."""
    return sum(len(d.content.encode()) for d in docs)


def term_bands(docs: list[Doc]) -> dict[str, str]:
    """Band ("head", "mid" or "rare") of every content word of ``docs``,
    by document frequency."""
    df: dict[str, int] = {}
    for d in docs:
        for t in set(d.content.split()):
            df[t] = df.get(t, 0) + 1
    by_df = sorted(df, key=lambda t: (-df[t], t))
    bands = {t: "head" for t in by_df[:HEAD_TERMS]}
    for t in by_df[HEAD_TERMS:]:
        bands[t] = "rare" if df[t] <= RARE_DF_MAX else "mid"
    return bands


def make_queries(
    docs: list[Doc], bands: dict[str, str], n: int, seed: int, stream: str
) -> list[str]:
    """``n`` distinct known-item queries: each takes its terms from one
    randomly chosen document, so the implicit AND matches at least that
    document.  Term counts cycle through QUERY_SHAPES; each term is drawn
    with its df band's BAND_WEIGHTS share (words missing from ``bands``
    count as rare)."""
    rng = _rng(seed, stream)
    seen: set[frozenset] = set()
    out: list[str] = []
    while len(out) < n:
        k = QUERY_SHAPES[len(out) % len(QUERY_SHAPES)]
        words = sorted(set(docs[int(rng.integers(len(docs)))].content.split()))
        if len(words) < k:
            continue
        w = np.array([BAND_WEIGHTS[bands.get(t, "rare")] for t in words])
        pick = rng.choice(len(words), size=k, replace=False, p=w / w.sum())
        terms = [words[i] for i in pick]
        if frozenset(terms) not in seen:
            seen.add(frozenset(terms))
            out.append(" ".join(terms))
    return out


def search_stream(pool_size: int, n: int, s: float, seed: int) -> list[int]:
    """``n`` indices into a query pool for one interactive user.  Every
    third search repeats an earlier one, picked by a Zipf law of exponent
    ``s`` over first-issue order (early queries are the popular ones); the
    rest issue the next pool query in a seed-permuted order.  The repeat
    share is therefore exactly 1/3 for every seed, and all repeats fall
    inside the client's 100-entry LRU while fewer than 100 distinct
    queries have been issued."""
    rng = _rng(seed, "stream")
    order = rng.permutation(pool_size)
    issued: list[int] = []
    out: list[int] = []
    fresh = 0
    for i in range(n):
        if i % 3 == 2:
            ranks = np.arange(1, len(issued) + 1, dtype=np.float64) ** -s
            q = issued[int(rng.choice(len(issued), p=ranks / ranks.sum()))]
        else:
            q = int(order[fresh % pool_size])
            fresh += 1
            if q not in issued:
                issued.append(q)
        out.append(q)
    return out


@dataclass(frozen=True)
class Round:
    """One ingest round: the complete corpus snapshot after the round and
    the changes it carries relative to the previous snapshot."""

    snapshot: tuple[Doc, ...]
    added: tuple[Doc, ...]
    modified: tuple[Doc, ...]
    deleted: tuple[Doc, ...]

    @property
    def changed(self) -> int:
        return len(self.added) + len(self.modified) + len(self.deleted)


def make_rounds(
    base: list[Doc], n_rounds: int, frac: float, seed: int
) -> list[Round]:
    """``n_rounds`` successive snapshots.  Each round modifies, deletes and
    adds ``frac`` of the current document count (modify and delete pick
    disjoint existing docs; adds take fresh paths)."""
    w = _Writer(seed)
    rng = _rng(seed, "rounds")
    cur = {d.key: d for d in base}
    next_i = len(base)
    rounds = []
    for _ in range(n_rounds):
        k = max(1, int(len(cur) * frac))
        keys = sorted(cur)
        pick = rng.choice(len(keys), size=2 * k, replace=False)
        mod_keys = [keys[i] for i in pick[:k]]
        del_keys = [keys[i] for i in pick[k:]]
        new_contents = w.contents(rng, 2 * k)
        modified = [
            Doc(cur[key].repo, cur[key].path, c)
            for key, c in zip(mod_keys, new_contents[:k])
        ]
        added = [Doc(*_doc_path(next_i + j), c) for j, c in enumerate(new_contents[k:])]
        next_i += k
        deleted = [cur.pop(key) for key in del_keys]
        for d in modified + added:
            cur[d.key] = d
        rounds.append(
            Round(
                tuple(cur[key] for key in sorted(cur)),
                tuple(added),
                tuple(modified),
                tuple(deleted),
            )
        )
    return rounds
