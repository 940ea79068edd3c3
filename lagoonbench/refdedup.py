"""Reference near-duplicate survivor selection, in numpy, for checking
``Lagoon.dedup_source`` with its default arguments.

It restates the documented algorithm rather than calling the engine:
word fingerprints are the rolling hash ``h = (31·h + ord(c)) mod p`` over
each space-separated token (``p = 10⁹+7``); the 16 MinHash permutations
are ``(f·aᵢ + bᵢ) mod p`` with ``aᵢ = 0x9E3779B97F4A7C15·i mod p`` and
``bᵢ = 0xC2B2AE3D27D4EB4F·i + 13 mod p`` (i = 1..16); documents with
equal signatures form one group; two groups are joined when any of their
four 4-value band keys (values joined by ``_``) are equal and at least 8
of the 16 values match; clusters are the connected components; each
cluster keeps the document with most tokens, ties to the lowest row.

Planted near-duplicates share their base document's word set, so the
reference keeps at most one row per planted cluster. It can keep fewer:
permutation i maps a token to ``i·(f·g + h) + 13 mod p`` for fixed g, h,
so a token whose ``f·g + h mod p`` is small takes the minimum at most
positions, and unrelated documents sharing such a token (a stopword, say)
agree on 8 or more of them. This check expects exactly what the
documented algorithm yields; how many planted clusters survive is
reported separately.
"""

from __future__ import annotations

import numpy as np

MOD = 1_000_000_007
MULT = 31
NUM_HASHES, BANDS, ROWS, MIN_MATCHES = 16, 4, 4, 8


def _seeds() -> tuple[np.ndarray, np.ndarray]:
    a = [(0x9E3779B97F4A7C15 * i) % MOD or 1 for i in range(1, NUM_HASHES + 1)]
    b = [(0xC2B2AE3D27D4EB4F * i + 13) % MOD for i in range(1, NUM_HASHES + 1)]
    return np.array(a, dtype=np.int64), np.array(b, dtype=np.int64)


def _fingerprint(word: str) -> int:
    h = 0
    for ch in word:
        h = (h * MULT + ord(ch)) % MOD
    return h


def signature(text: str, a: np.ndarray, b: np.ndarray) -> tuple:
    fps = np.array(sorted({_fingerprint(w) for w in text.split(" ") if w}), dtype=np.int64)
    return tuple(int(v) for v in ((fps[:, None] * a[None, :] + b[None, :]) % MOD).min(axis=0))


def survivors(texts: list[str]) -> list[int]:
    """Positions (ascending) of the rows dedup keeps among ``texts``,
    given in row-id order."""
    a, b = _seeds()
    sigs = [signature(t, a, b) for t in texts]
    group_of: dict[tuple, int] = {}
    for s in sigs:
        group_of.setdefault(s, len(group_of))
    parent = list(range(len(group_of)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    buckets: dict[str, list[tuple]] = {}
    for s in group_of:
        for band in range(BANDS):
            key = "_".join(str(v) for v in s[band * ROWS : (band + 1) * ROWS])
            buckets.setdefault(key, []).append(s)
    for members in buckets.values():
        for i, s in enumerate(members):
            for t in members[i + 1 :]:
                if s != t and sum(x == y for x, y in zip(s, t)) >= MIN_MATCHES:
                    ra, rb = find(group_of[s]), find(group_of[t])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    best: dict[int, tuple[int, int]] = {}
    for row, (t, s) in enumerate(zip(texts, sigs)):
        cluster = find(group_of[s])
        n = sum(1 for w in t.split(" ") if w)
        if cluster not in best or n > best[cluster][0]:
            best[cluster] = (n, row)
    return sorted(row for _n, row in best.values())
