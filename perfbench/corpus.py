"""Seeded page corpora for the benchmark, owned by the benchmark.

The engine's own fixture generator is deliberately not used: a change to
the program must never change the workload it is measured on.

Every corpus is a list of ``Page`` rows with planted near-duplicate
clusters. Text is drawn from a Zipfian vocabulary of about 10k words
(FIXTURES.md §1), so hot shingles exist, and a fixed set of boilerplate
blocks (navigation bars, cookie banners, footers) is shared across
unrelated sites. The seed changes the words, never the shape: page count,
cluster sizes and length ranges are fixed per corpus, so run time does not
depend on which seed a run is given.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 10_000
_LETTERS = np.array(list("etaoinshrdlcumwfgypbvkjxqz"))
_LETTER_P = np.array(
    [12.7, 9.1, 8.2, 7.5, 7.0, 6.7, 6.3, 6.1, 6.0, 4.3, 4.0, 2.8, 2.8, 2.4,
     2.4, 2.2, 2.0, 2.0, 1.9, 1.5, 1.0, 0.8, 0.2, 0.2, 0.1, 0.1]
)
_LETTER_P = _LETTER_P / _LETTER_P.sum()

# planted variant kinds; "mirror" is an identical copy on another url
MIRROR, CHURN, SUBST, TRUNC, BOILER = "mirror", "churn", "subst", "trunc", "boiler"
_VARIANTS = (MIRROR, CHURN, SUBST, TRUNC, BOILER)


@dataclass(frozen=True)
class Page:
    doc_id: int
    url: str
    text: str
    cluster: int       # planted truth cluster (singletons get their own id)
    transform: str     # "base" or one of _VARIANTS


@dataclass(frozen=True)
class CorpusSpec:
    n_bases: int                    # distinct base documents
    words: tuple[int, int]          # base length range, in words
    cluster_sizes: tuple[int, int]  # members of a planted cluster
    cluster_share: float            # share of bases that spawn a cluster
    boiler_share: float             # share of pages wearing a site template
    farm_size: int = 0              # identical mirror copies of one page


def _vocab(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    lens = rng.integers(2, 11, size=VOCAB_SIZE)
    letters = rng.choice(_LETTERS, size=int(lens.sum()), p=_LETTER_P)
    words, pos = [], 0
    for n in lens.tolist():
        words.append("".join(letters[pos : pos + n]))
        pos += n
    # Zipf(1.0) over ranks: a handful of words cover a large share of text
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    cdf = np.cumsum(1.0 / ranks)
    return np.array(words, dtype=object), cdf / cdf[-1]


class _Writer:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.words, self.cdf = _vocab(self.rng)
        # site templates shared by unrelated pages (deliberate hot
        # shingles): a 10-word header and a 10-word footer sentence
        self.templates = [([self.draw(10)], [self.draw(10)]) for _ in range(12)]

    def draw(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n))
        return self.words[np.minimum(idx, VOCAB_SIZE - 1)].tolist()

    def sentences(self, toks: list[str]) -> list[list[str]]:
        out, i = [], 0
        while i < len(toks):
            n = int(self.rng.integers(6, 20))
            out.append(toks[i : i + n])
            i += n
        return out

    @staticmethod
    def render(sents: list[list[str]]) -> str:
        return " ".join(" ".join(s) + "." for s in sents)

    def variant(self, sents: list[list[str]], kind: str) -> str:
        rng = self.rng
        if kind == MIRROR:
            return self.render(sents)
        if kind == CHURN:  # doubled spaces and line breaks at a few spots
            text = self.render(sents)
            toks = text.split(" ")
            mask = rng.random(len(toks)) < 0.04
            return " ".join(t + ("\n" if m else "") for t, m in zip(toks, mask))
        if kind == SUBST:  # ~2% of words replaced
            flat = [w for s in sents for w in s]
            hit = np.flatnonzero(rng.random(len(flat)) < 0.02)
            repl = self.draw(len(hit))
            for i, w in zip(hit.tolist(), repl):
                flat[i] = w
            out, pos = [], 0
            for s in sents:
                out.append(flat[pos : pos + len(s)])
                pos += len(s)
            return self.render(out)
        if kind == TRUNC:  # keep the first 88-96% of sentences
            keep = max(1, int(round(len(sents) * rng.uniform(0.88, 0.96))))
            return self.render(sents[:keep])
        # BOILER: wrap in a shared site template
        head, foot = self.templates[int(rng.integers(len(self.templates)))]
        return self.render(head + sents + foot)


def _spread(lo: int, hi: int, n: int, rng: np.random.Generator) -> list[int]:
    """n evenly spaced values in [lo, hi], in seeded order: the multiset is
    fixed, only which page gets which value depends on the seed."""
    return rng.permutation(np.linspace(lo, hi, n).round().astype(int)).tolist()


def generate(spec: CorpusSpec, seed: int) -> list[Page]:
    """Pages for ``spec``; the same seed gives the same pages."""
    w = _Writer(seed)
    rng = w.rng
    pages: list[Page] = []

    def add(text: str, cluster: int, transform: str) -> None:
        i = len(pages)
        site = int(rng.integers(997))
        pages.append(
            Page(i, f"https://site{site:03d}.example/p/{i:07d}", text, cluster, transform)
        )

    n_clustered = round(spec.n_bases * spec.cluster_share)
    lo, hi = spec.cluster_sizes
    # both groups get the full length range, so the shape never varies
    lengths = _spread(*spec.words, n_clustered, rng) + _spread(
        *spec.words, spec.n_bases - n_clustered, rng
    )
    n_boiler = round(spec.n_bases * spec.boiler_share)
    boiler = set(_spread(0, spec.n_bases - 1, n_boiler, rng)) if n_boiler else set()
    member = 0
    for c in range(spec.n_bases):
        sents = w.sentences(w.draw(lengths[c]))
        if c in boiler:
            head, foot = w.templates[int(rng.integers(len(w.templates)))]
            sents = head + sents + foot
        add(w.render(sents), c, "base")
        if c < n_clustered:
            for _ in range(lo + c % (hi - lo + 1) - 1):
                kind = _VARIANTS[member % len(_VARIANTS)]
                member += 1
                add(w.variant(sents, kind), c, kind)
    if spec.farm_size:
        c = spec.n_bases
        text = w.render(w.sentences(w.draw(spec.words[1])))
        add(text, c, "base")
        for _ in range(spec.farm_size - 1):
            add(text, c, MIRROR)
    # shuffle so clusters do not sit in one input partition
    order = rng.permutation(len(pages))
    return [pages[i] for i in order.tolist()]
