"""Seeded corpus generators with an exact similarity oracle.

Every corpus is a list of planted clusters. A cluster has a random template
of vocabulary tokens; its members are the template with token
SUBSTITUTIONS, each substitute a token used nowhere else in the corpus.
That makes the 5-gram shingle algebra exact: a substitution at position p
kills the windows covering p and adds as many windows no other document
has, so every member keeps |shingles| = len(template) - 4 and

    J(a, b) = I / (2S - I),  I = S - |killed(a) | killed(b)|

with S the template's window count. The oracle needs no shingling at all.

Near-threshold pairs would make the output check flaky (LSH may miss a pair
at J = 0.70 with probability ~1e-4), so generation keeps every planted pair
out of the band [GAP_LO, GAP_HI) around the 0.7 threshold: a member that
would land in it is re-drawn with fewer edits. Pairs above the band are
found with probability > 1 - 5e-8 each; pairs below it ("distant variants",
J ~ 0.3-0.6) reach verify as candidates and are rejected there, or by the
MinHash estimate gate on long pages.

The same seed gives the same corpus; the engine only ever sees the texts.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

K = 5  # shingle width, DedupConfig.shingle_k
GAP_LO, GAP_HI = 0.62, 0.80  # around DedupConfig.jaccard_threshold (0.7)


def _vocab(n: int = 512) -> np.ndarray:
    syllables = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    return np.array([a + b for a in syllables for b in syllables][:n])


VOCAB = _vocab()


@dataclass
class Corpus:
    texts: list[str]
    planted: np.ndarray  # planted cluster id per doc (index of its first doc)
    expected_clusters: int  # components of the J >= 0.7 graph
    expected_pairs: int  # planted pairs with J >= 0.7
    oracle_root: np.ndarray  # component representative per doc (doc index)

    @property
    def n_docs(self) -> int:
        return len(self.texts)


class _Builder:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 0x5EED])
        self.texts: list[str] = []
        self.planted: list[int] = []
        self.roots: list[np.ndarray] = []  # oracle component id per doc
        self.n_pairs = 0  # planted pairs with J >= 0.7
        self.next_unique = 0

    def _text(self, words: list[str], positions: np.ndarray) -> str:
        words = list(words)
        for p in positions:
            words[p] = f"q{self.next_unique:x}"
            self.next_unique += 1
        return " ".join(words)

    def cluster(self, size: int, n_tok: tuple[int, int], edits: tuple[float, float],
                variants: int = 0, variant_rate: tuple[float, float] = (0.06, 0.12)) -> None:
        """One planted cluster: `size` near-copies (member 0 unedited) plus
        `variants` distant variants; a member's substitution count is its
        rate (drawn from `edits` or `variant_rate`) times the length.

        Template shingles are taken as distinct: a repeated 5-gram among
        uniform draws from 512 words has probability < 4e-7 per page."""
        n = int(self.rng.integers(n_tok[0], n_tok[1] + 1))
        words = VOCAB[self.rng.integers(0, len(VOCAB), size=n)].tolist()
        base = len(self.texts)
        m = size + variants
        if m == 1:
            self.texts.append(" ".join(words))
            self.planted.append(base)
            self.roots.append(np.array([base]))
            return
        s = n - K + 1
        rates = np.concatenate([self.rng.uniform(*edits, size), self.rng.uniform(*variant_rate, variants)])
        rates[0] = 0.0
        n_edit = np.rint(rates * n).astype(np.int64)
        # a member edits the first n_edit positions of its own random order;
        # halving n_edit keeps a subset of them, so J to the template only rises
        rank = self.rng.random((m, n)).argsort(axis=1).argsort(axis=1)
        while True:
            hit = rank < n_edit[:, None]
            cs = np.concatenate([np.zeros((m, 1)), np.cumsum(hit, axis=1)], axis=1)
            kills = (cs[:, K:] - cs[:, :s] > 0).astype(np.float64)  # window w covers w..w+K-1
            c = kills.sum(axis=1)
            inter = s - (c[:, None] + c[None, :] - kills @ kills.T)
            jac = inter / (2 * s - inter)
            np.fill_diagonal(jac, 1.0)  # the formula assumes distinct docs
            bad = np.triu((jac >= GAP_LO) & (jac < GAP_HI), 1).any(axis=0)
            if not bad.any():
                break
            n_edit[bad] //= 2
        # oracle: components of the J >= GAP_HI graph (no planted pair sits in
        # the gap, so this is the J >= 0.7 graph), by min-label propagation
        adj = jac >= GAP_HI
        self.n_pairs += int((adj.sum() - m) // 2)
        labels = np.arange(m)
        while True:
            nxt = np.where(adj, labels[None, :], m).min(axis=1)
            if np.array_equal(nxt, labels):
                break
            labels = nxt
        self.roots.append(base + labels)
        self.texts.extend(self._text(words, np.flatnonzero(h)) for h in hit)
        self.planted.extend([base] * m)

    def build(self) -> Corpus:
        roots = np.concatenate(self.roots)
        return Corpus(
            texts=self.texts,
            planted=np.array(self.planted, dtype=np.int64),
            expected_clusters=int(len(np.unique(roots))),
            expected_pairs=self.n_pairs,
            oracle_root=roots,
        )


def _small_clusters(b: _Builder, n_docs: int, n_tok: tuple[int, int],
                    edits: tuple[float, float]) -> None:
    """Fill up to n_docs: 55% singletons, else 2-8 near-copies, and one
    cluster in six carries a distant variant."""
    while len(b.texts) < n_docs:
        room = n_docs - len(b.texts)
        size = 1 if b.rng.random() < 0.55 else int(b.rng.integers(2, 9))
        variants = int(size > 1 and b.rng.random() < 1 / 6)
        size = min(size, room)
        b.cluster(size, n_tok, edits, variants=min(variants, room - size))


def short_pages(seed: int, n_docs: int, mega: int = 3, mega_size: tuple[int, int] = (550, 1100)) -> Corpus:
    """Short pages (40-120 tokens). `mega` clusters of mega_size copies sit
    between DedupConfig.salt_threshold (500) and band_cap (5000): their hot
    bands take the salted join and CC sees mega-components."""
    b = _Builder(seed)
    for _ in range(mega):
        b.cluster(int(b.rng.integers(mega_size[0], mega_size[1] + 1)), (100, 120), (0.0, 0.02))
    _small_clusters(b, n_docs, (40, 120), (0.0, 0.03))
    return b.build()


def long_pages(seed: int, n_docs: int) -> Corpus:
    """Web-length pages (4,500-6,000 tokens): mean shingles/doc is above
    DedupConfig.verify_gate_min_avg_shingles, so the pipeline turns the
    MinHash estimate gate on."""
    b = _Builder(seed)
    _small_clusters(b, n_docs, (4500, 6000), (0.0, 0.012))
    return b.build()
