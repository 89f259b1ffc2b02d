"""Seeded corpus generator for the product-path benchmark.

The same seed gives a byte-identical corpus; the shape (file count, file
sizes, planted duplicates, planted low-quality docs, needles) does not
depend on the seed, only the words do, so two seeds cost the same work.

Layout: `n_dirs` source directories `d00/ .. dNN/`, each holding
`files_per_dir` `.txt` files. Among them:

- normal documents, about `doc_chars` characters of Zipf-distributed
  pseudo-words mixed with English stopwords, in sentences and paragraphs;
- exact duplicates: copies of normal documents under another name, which
  the `exact_dedup` filter drops;
- low-quality documents: digit and punctuation noise, which the `quality`
  filter drops;
- needles: short single-chunk documents built from words no other
  document uses, so a search for a needle's text ranks its source first.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

STOPWORDS = ["the", "and", "of", "is", "to", "in", "that", "it", "for", "on"]
_ONSETS = "b c d f g h k l m n p r s t v w z br cr dr fl gr pl st tr".split()
_VOWELS = "a e i o u ai ea ou".split()


@dataclass(frozen=True)
class CorpusShape:
    n_dirs: int = 4
    files_per_dir: int = 8
    doc_chars: int = 3000
    n_duplicates: int = 2
    n_lowq: int = 2
    n_needles: int = 4
    n_edits: int = 4
    vocab_size: int = 4000


@dataclass
class Corpus:
    files: dict[str, str]  # relative path -> text
    dup_pairs: list[tuple[str, str]]  # (copy, original), same text
    lowq: list[str]  # paths the quality filter drops
    needles: list[str]  # single-chunk docs with unique words
    normal: list[str]  # plain documents, never duplicated
    edits: dict[str, str] = field(default_factory=dict)  # path -> new text

    @property
    def dropped(self) -> set[str]:
        """Paths a cold run filters out: the low-quality docs, and of
        each duplicate pair the one with the larger id (exact_dedup keeps
        the smallest)."""
        return set(self.lowq) | {max(pair) for pair in self.dup_pairs}

    def digest(self) -> str:
        h = hashlib.sha256()
        for path in sorted(self.files):
            h.update(path.encode() + b"\0" + self.files[path].encode() + b"\0")
        for path in sorted(self.edits):
            h.update(path.encode() + b"\1" + self.edits[path].encode() + b"\0")
        return h.hexdigest()


def _vocab(rng: random.Random, size: int) -> list[str]:
    words: list[str] = []
    seen = set(STOPWORDS)
    while len(words) < size:
        n = rng.choice((2, 2, 3, 3, 4))
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class _Writer:
    """Zipf word stream with stopwords mixed in at a fixed rate."""

    def __init__(self, rng: random.Random, vocab: list[str]):
        self.rng, self.vocab = rng, vocab
        self.weights = [1.0 / (r + 1) ** 1.1 for r in range(len(vocab))]

    def words(self, n: int) -> list[str]:
        out = self.rng.choices(self.vocab, weights=self.weights, k=n)
        for i in range(n):
            if self.rng.random() < 0.3:
                out[i] = self.rng.choice(STOPWORDS)
        return out

    def document(self, chars: int) -> str:
        paras: list[str] = []
        size = 0
        while size < chars:
            sents = []
            for _ in range(self.rng.randint(3, 6)):
                ws = self.words(self.rng.randint(8, 16))
                sents.append(" ".join(ws).capitalize() + ".")
            para = " ".join(sents)
            paras.append(para)
            size += len(para) + 2
        return "\n\n".join(paras)[:chars].rstrip() + "."


def _noise(rng: random.Random, chars: int) -> str:
    parts: list[str] = []
    size = 0
    while size < chars:
        tok = "".join(rng.choice("0123456789;:!?#-") for _ in range(rng.randint(3, 9)))
        parts.append(tok)
        size += len(tok) + 1
    return " ".join(parts)


def _needle(rng: random.Random, i: int) -> str:
    # unique letters-only words (BM25 tokenizes on \p{L}+), two stopwords
    # per sentence keep the quality score high; < 400 chars = one chunk
    tag = "".join(rng.choice("qxzjkv") for _ in range(6))
    letters = "abcdefghij"
    uniq = [f"needle{tag}{letters[i % 10]}{letters[(i // 10) % 10]}{c}" for c in "qrstuvwx"]
    body = []
    for j in range(0, len(uniq), 2):
        body.append(f"The {uniq[j]} and the {uniq[j + 1]} is of note.")
    return " ".join(body)


def make_corpus(seed: int, shape: CorpusShape = CorpusShape()) -> Corpus:
    rng = random.Random(seed)
    writer = _Writer(rng, _vocab(rng, shape.vocab_size))
    paths = [
        f"d{d:02d}/doc{f:03d}.txt"
        for d in range(shape.n_dirs)
        for f in range(shape.files_per_dir)
    ]
    order = paths[:]
    rng.shuffle(order)
    k_dup, k_low, k_needle = shape.n_duplicates, shape.n_lowq, shape.n_needles
    duplicates = sorted(order[:k_dup])
    lowq = sorted(order[k_dup : k_dup + k_low])
    needles = sorted(order[k_dup + k_low : k_dup + k_low + k_needle])
    normal = sorted(order[k_dup + k_low + k_needle :])

    files: dict[str, str] = {}
    for p in normal:
        files[p] = writer.document(shape.doc_chars)
    for p in lowq:
        files[p] = _noise(rng, shape.doc_chars)
    for i, p in enumerate(needles):
        files[p] = _needle(rng, i)
    # each duplicate copies a distinct normal document
    originals = rng.sample(normal, k_dup)
    for p, src in zip(duplicates, originals):
        files[p] = files[src]
    files = {p: files[p] for p in paths}

    # edits and forgets never touch a duplicated original, so the dedup
    # drops stay the same through a run
    plain = sorted(set(normal) - set(originals))
    edits = {
        p: writer.document(shape.doc_chars)
        for p in sorted(rng.sample(plain, shape.n_edits))
    }
    pairs = list(zip(duplicates, originals))
    return Corpus(files, pairs, lowq, needles, plain, edits)


def write_corpus(root: str, files: dict[str, str]) -> None:
    for rel, text in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
