"""Seeded workload inputs with exact planted truth.

Every generator is linear in its output size and fully determined by its
seed.  The program under test only ever sees the generated rows.

Cluster separation by construction
----------------------------------
A page key is ``host/title-token``.  Hosts and titles are letters and
``-`` only; the ``token`` is the only place digits occur, and edits touch
letters of the title only.  A token spells a multiset of ``w`` decimal
digits, each written as a run of ``ID_RUN`` copies, and every cluster gets
its own multiset.  One edit (insert, delete, substitute, transpose) moves
the key's digit histogram by at most 2 in L1, and two distinct multisets
of equal size differ by at least ``2 * ID_RUN`` there, so keys of
different clusters are at least ``ID_RUN`` = 5 > 2k edits apart (k = 2)
whatever their letters are.  ``separation_sample`` re-checks this on a
seeded sample with the DP kernel.
"""

from __future__ import annotations

import itertools
import math
import random
import string

import numpy as np

K = 2
ID_RUN = 5
LETTERS = string.ascii_lowercase

_WORDS = [
    "breaking", "review", "guide", "intro", "deep", "dive", "spark", "query",
    "engine", "fuzzy", "search", "index", "scale", "daily", "weekly", "report",
    "update", "notes", "letter", "story", "world", "local", "tech", "science",
    "market", "travel", "health", "sports", "music", "movie", "recipe", "garden",
    "photo", "video", "career", "school", "family", "budget", "energy", "climate",
    "history", "design", "mobile", "secure", "cloud", "data", "policy", "event",
]
_HOST_WORDS = [
    "news", "shop", "blog", "wiki", "mail", "data", "code", "docs", "maps",
    "site", "home", "info", "web", "portal", "forum", "cloud", "store", "media",
    "press", "times", "daily", "post", "world", "city", "hub", "zone", "line",
]
_TLDS = ["com", "org", "net", "info"]


def _id_tokens(n: int, rng: random.Random) -> list[str]:
    w = 1
    while math.comb(9 + w, w) < n:
        w += 1
    combos = list(itertools.combinations_with_replacement("0123456789", w))
    rng.shuffle(combos)
    return ["".join(d * ID_RUN for d in c) for c in combos[:n]]


def _edit(rng: random.Random, title: str, n_ops: int) -> str:
    """``n_ops`` letter edits (insert/delete/substitute/transpose) at
    positions at least 3 apart, so the OSA distance stays <= n_ops."""
    chars = list(title)
    used: list[int] = []
    for _ in range(n_ops):
        while True:
            i = rng.randrange(1, len(chars) - 2)
            if all(abs(i - u) >= 3 for u in used):
                break
        used.append(i)
        op = rng.randrange(4)
        if op == 0:
            chars[i] = rng.choice(LETTERS.replace(chars[i], ""))
        elif op == 1:
            chars.insert(i, rng.choice(LETTERS))
            used = [u + 1 if u > i else u for u in used]
        elif op == 2 and len(chars) > 12:
            chars.pop(i)
            used = [u - 1 if u > i else u for u in used]
        elif chars[i] != chars[i + 1]:
            chars[i], chars[i + 1] = chars[i + 1], chars[i]
        else:
            chars[i] = rng.choice(LETTERS.replace(chars[i], ""))
    return "".join(chars)


def _title(rng: random.Random, n_words: int) -> str:
    return "-".join(rng.choice(_WORDS) for _ in range(n_words))


def _osa(a: list[str], b: list[str]) -> np.ndarray:
    from orchid_fst_spark.functions.distance import batch_levenshtein

    return batch_levenshtein(a, b, clamp=2 * K + 1, transpositions=True)


def _n_ops(rng: random.Random) -> int:
    return rng.randint(1, 2)


def _fix_steps(rng: random.Random, parents: list[str], children: list[str]) -> None:
    """Re-draw every child whose OSA distance to its parent is not in
    [1, K] (a transposition next to another edit can cost more)."""
    while True:
        d = _osa(parents, children)
        bad = np.flatnonzero((d < 1) | (d > K))
        if not len(bad):
            return
        for i in bad:
            children[i] = _edit(rng, parents[i], _n_ops(rng))


def gen_pages(
    seed: int,
    n_clusters: int,
    n_hosts: int,
    zipf_s: float,
    chain_len: int,
    title_words: int,
    host_len: int,
) -> tuple[list[str], list[int], int]:
    """Pages ``(urls, cluster_ids, n_pages)`` with planted clusters.

    ``chain_len == 0``: star clusters, a base page plus 1-4 variants,
    each 1-2 edits from the base.  ``chain_len > 0``: each cluster is a
    chain of ``chain_len`` variants after the base, each 1-2 edits from
    the previous one.  Hosts are drawn with weight ``1 / rank**zipf_s``
    (0 gives uniform hosts); all hosts of a workload are ``host_len``
    chars long, so the seed changes which host is hot, not how hot it
    is."""
    rng = random.Random(seed)
    hosts: set[str] = set()
    while len(hosts) < n_hosts:
        h = "".join(rng.choice(_HOST_WORDS) for _ in range(4))
        tld = rng.choice(_TLDS)
        h = (h + "abcdefghijklmnopqrstuvwxyz")[: host_len - len(tld) - 1]
        hosts.add(f"{h}.{tld}")
    host_list = sorted(hosts)
    rng.shuffle(host_list)
    weights = [1.0 / (r + 1) ** zipf_s for r in range(n_hosts)]
    tokens = _id_tokens(n_clusters, rng)

    parents: list[str] = []
    children: list[str] = []
    slots: list[tuple[int, int]] = []  # (cluster, position) per child
    bases: list[tuple[str, str]] = []
    for c in range(n_clusters):
        host = rng.choices(host_list, weights=weights)[0]
        base = _title(rng, title_words)
        bases.append((host, base))
        if chain_len:
            prev = base
            for j in range(chain_len):
                nxt = _edit(rng, prev, _n_ops(rng))
                parents.append(prev)
                children.append(nxt)
                slots.append((c, j))
                prev = nxt
        else:
            for j in range(1 + c % 4):
                parents.append(base)
                children.append(_edit(rng, base, _n_ops(rng)))
                slots.append((c, j))
    if chain_len:
        # a chain re-draw changes the next step's parent: fix in order
        for j in range(chain_len):
            idx = [i for i, (_, p) in enumerate(slots) if p == j]
            if j:
                for i in idx:
                    parents[i] = children[i - 1]
            sub_p = [parents[i] for i in idx]
            sub_c = [children[i] for i in idx]
            _fix_steps(rng, sub_p, sub_c)
            for i, ch in zip(idx, sub_c):
                children[i] = ch
    else:
        _fix_steps(rng, parents, children)

    titles: list[list[str]] = [[b] for _, b in bases]
    for (c, _), t in zip(slots, children):
        titles[c].append(t)
    urls: list[str] = []
    cids: list[int] = []
    for c, ts in enumerate(titles):
        host = bases[c][0]
        for t in ts:
            urls.append(f"https://{host}/{t}-{tokens[c]}?p={len(urls)}")
            cids.append(c)
    order = list(range(len(urls)))
    rng.shuffle(order)
    return [urls[i] for i in order], [cids[i] for i in order], len(urls)


def page_key(url: str) -> str:
    """The pipeline's norm_key for a generated url (lowercase, no spaces)."""
    return url.split("://", 1)[1].split("?", 1)[0]


def separation_sample(
    urls: list[str], cids: list[int], seed: int, n: int = 2000
) -> list[str]:
    """Seeded sample check of the planted truth: keys of different
    clusters are more than 2k apart.
    Returns failure messages (empty when the truth holds)."""
    rng = random.Random(seed ^ 0x5EED)
    keys = [page_key(u) for u in urls]
    m = len(keys)
    pa, pb = [], []
    while len(pa) < n:
        i, j = rng.randrange(m), rng.randrange(m)
        if cids[i] != cids[j]:
            pa.append(keys[i])
            pb.append(keys[j])
    d = _osa(pa, pb)
    errs = [f"cross-cluster keys {a!r} {b!r} at distance {x}"
            for a, b, x in zip(pa, pb, d) if x <= 2 * K][:5]
    return errs


def gen_queries(rng: random.Random, words: list[str], q: int) -> list[str]:
    """``q`` distinct typo queries, each 1-2 letter edits from a word."""
    out: dict[str, None] = {}
    while len(out) < q:
        w = rng.choice(words)
        chars = list(w)
        for _ in range(rng.randint(1, 2)):
            op = rng.randrange(3)
            i = rng.randrange(len(chars))
            if op == 0:
                chars[i] = rng.choice(LETTERS)
            elif op == 1:
                chars.insert(i, rng.choice(LETTERS))
            elif len(chars) > 2:
                chars.pop(i)
        out["".join(chars)] = None
    return list(out)
