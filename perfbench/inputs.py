"""Seeded benchmark inputs that need no Spark: the query stream and the
document-id helpers.  The corpus itself comes from the engine's own
seeded ``generate_corpus``; everything here is a pure function of that
corpus and the seed, so the same seed gives the same run inputs."""

from __future__ import annotations

import bisect
import random
import re
from collections import Counter

# a generated document's path embeds its generator row number
FILE_NO = r"file_(\d+)\."
_RARE = re.compile(r"^(?:fn|var|cls)_\d+$")

# query kinds: "head" is 2-4 Zipf-common words (the i-th query of a stream
# has 2 + i % 3, so every seed gets the same mix of lengths), "tail" a rare
# fn_/var_/cls_ identifier plus a common word; the others need mode="parse"
# (and "phrase" an index built with positions)
KINDS = ("head", "tail", "phrase", "prefix", "not", "title")
MAX_PREFIX_TOKENS = 64  # prefix queries stay far below the engine's expansion cap


def id_query(path: str) -> str:
    """A query matching exactly one document: its file name (a token of
    the title field that no other generated document carries)."""
    return path.rsplit("/", 1)[1]


class Vocab:
    """Query material drawn from a corpus sample: frequent words (the
    Zipf head), rare identifiers (the tail) and adjacent word pairs
    (phrases that occur).  ``analyzes`` filters out words the engine's
    analyzer drops (stop words), so head queries are never empty."""

    def __init__(self, docs: list[dict], analyzes, n_head: int = 40, pair_docs: int = 200):
        words: Counter = Counter()
        rare: set[str] = set()
        for d in docs:
            toks = d["content"].split()
            words.update(t for t in toks if not _RARE.match(t))
            rare.update(t for t in toks if _RARE.match(t))
        ranked = sorted(words.items(), key=lambda kv: (-kv[1], kv[0]))
        self.head = [w for w, _ in ranked if analyzes(w)][:n_head]
        self.rare = sorted(rare)
        pairs: set[tuple[str, str]] = set()
        for d in sorted(docs, key=lambda d: d["doc_id"])[:pair_docs]:
            toks = [t for t in d["content"].split() if not _RARE.match(t)]
            pairs.update(
                (a, b) for a, b in zip(toks, toks[1:]) if a != b and analyzes(a) and analyzes(b)
            )
        self.pairs = sorted(pairs)
        self.modules = sorted({d["path"].split("/")[1] for d in docs})
        # every raw token, title parts included: a prefix query expands
        # over these, and the engine refuses expansions past 1024 terms
        self.tokens = sorted(set(words) | rare | {p for d in docs for p in d["path"].split("/")})
        self.prefixes = sorted({
            w[:k] for w in self.head for k in range(3, len(w))
            if self.n_with_prefix(w[:k]) <= MAX_PREFIX_TOKENS
        })

    def n_with_prefix(self, prefix: str) -> int:
        lo = bisect.bisect_left(self.tokens, prefix)
        return bisect.bisect_left(self.tokens, prefix + "\uffff", lo) - lo


def _one(rng: random.Random, kind: str, v: Vocab, i: int) -> str:
    if kind == "head":
        return " ".join(rng.sample(v.head, 2 + i % 3))
    if kind == "tail":
        return f"{rng.choice(v.rare)} {rng.choice(v.head)}"
    if kind == "phrase":
        a, b = rng.choice(v.pairs)
        return f'"{a} {b}"'
    if kind == "prefix":
        return f"{rng.choice(v.prefixes)}* {rng.choice(v.head)}"
    if kind == "not":
        a, b = rng.sample(v.head, 2)
        return f"{a} NOT {b}"
    if kind == "title":
        return f"title:{rng.choice(v.modules)} {rng.choice(v.head)}"
    raise ValueError(f"unknown query kind {kind!r}")


def make_queries(v: Vocab, seed: int, n: int, kind: str, avoid=frozenset()) -> list[str]:
    """``n`` distinct queries of one kind, none of them in ``avoid``.
    Each (seed, kind) pair has its own random stream."""
    rng = random.Random(f"{seed}:{kind}")
    out: list[str] = []
    seen = set(avoid)
    for _ in range(n * 50):
        q = _one(rng, kind, v, len(out))
        if q not in seen:
            seen.add(q)
            out.append(q)
            if len(out) == n:
                return out
    raise ValueError(f"could not draw {n} distinct {kind!r} queries from this vocabulary")
