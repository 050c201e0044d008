"""Generator for the `link_heavy` workload: raw triples whose surfaces need
real entity linking, plus the ground truth the scorer needs.

Entity names are three words built from syllables. Entity popularity
follows a Zipf law over rank (a few hub entities carry most mentions),
and the number of surface variants an entity gets falls with rank, so
hubs also have the most typo variants. Each entity gets its canonical
form, a lowercase form, an umlaut transliteration (when it has umlauts)
and 1-char / 2-char typo variants. Case and umlaut variants collapse to
one normalized surface in linking; typo variants must be linked fuzzily.

Typos only substitute ASCII letters with another ASCII letter, so a
1-char typo moves the normalized surface by exactly one edit. Two 1-char
variants of one name are then at most 2 edits apart, and every name is
at least MIN_LEN characters long, so all pairs among the canonical and
the 1-char variants of one entity clear the 90 ratio gate. That lower
bound (`guaranteed_pairs`) is what keeps the match-edge count above
`connected_components`' driver threshold.

Everything derives from numpy's seeded PCG64: same seed, same bytes.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

from llmaix_spark.functions.masking import replace_umlauts

_ONSETS = [
    "b", "k", "d", "f", "g", "h", "j", "l", "m", "n", "p", "r", "s", "t",
    "v", "w", "z", "br", "kr", "dr", "gr", "pl", "st", "tr", "sch", "fl",
    "sp", "gl", "kn", "pf",
]
_NUCLEI = ["a", "e", "i", "o", "u", "ä", "ö", "ü", "y"]
_CODAS = ["", "n", "r", "l", "s", "m", "k", "t", "x", "f", "g", "p"]
SYLLABLES = [o + n + c for o in _ONSETS for n in _NUCLEI for c in _CODAS]
_TYPO_LETTERS = "abcdefghiklmnoprstuvwz"
PREDICATES = ["works_at", "lives_in", "manages", "uses", "visited"]

MIN_LEN, MAX_LEN = 20, 27


@dataclass(frozen=True)
class LinkHeavySpec:
    n_entities: int = 600
    max_variants: int = 280
    min_variants: int = 8
    variant_decay: float = 0.45  # variants(rank) = max_variants * rank**-decay
    two_typo_share: float = 0.1
    zipf_s: float = 1.0  # mention popularity ∝ rank**-s
    n_triples: int = 12_000
    triples_per_conv: int = 4


@dataclass
class LinkHeavyData:
    triples: pd.DataFrame  # conv_id, subj_surface, pred, obj_surface
    truth: dict[str, int]  # surface -> entity index
    names: list[str]  # canonical name per entity index
    guaranteed_pairs: int  # norm pairs that must verify at ratio >= 90


def norm_surface(s: str) -> str:
    """Python twin of the pipeline's norm_surface_expr."""
    return re.sub(r"\s+", " ", replace_umlauts(s.strip()).lower())


def _name(rng: np.random.Generator) -> str:
    words = []
    for _ in range(3):
        k = int(rng.integers(2, 4))
        idx = rng.integers(0, len(SYLLABLES), k)
        words.append("".join(SYLLABLES[int(i)] for i in idx).capitalize())
    return " ".join(words)


def _typo(name: str, k: int, rng: np.random.Generator) -> str:
    chars = list(name)
    positions = [
        i for i in range(1, len(chars) - 1)
        if chars[i].isascii() and chars[i].isalpha()
    ]
    for i in rng.choice(positions, size=k, replace=False):
        old = chars[i]
        rep = old.lower()
        while rep == old.lower():
            rep = _TYPO_LETTERS[int(rng.integers(0, len(_TYPO_LETTERS)))]
        chars[i] = rep.upper() if old.isupper() else rep
    return "".join(chars)


def generate(seed: int, spec: LinkHeavySpec = LinkHeavySpec()) -> LinkHeavyData:
    rng = np.random.default_rng(seed)
    names: list[str] = []
    seen_names: set[str] = set()
    while len(names) < spec.n_entities:
        nm = _name(rng)
        if MIN_LEN <= len(nm) <= MAX_LEN and norm_surface(nm) not in seen_names:
            seen_names.add(norm_surface(nm))
            names.append(nm)

    ranks = np.arange(1, spec.n_entities + 1, dtype=np.float64)
    n_variants = np.clip(
        np.round(spec.max_variants * ranks ** -spec.variant_decay),
        spec.min_variants,
        spec.max_variants,
    ).astype(int)

    truth: dict[str, int] = {}
    norm_owner: dict[str, int] = {}
    guaranteed = 0
    for e, (nm, v) in enumerate(zip(names, n_variants)):
        n2 = int(v * spec.two_typo_share)
        forms = [nm, nm.lower(), replace_umlauts(nm)]
        one_typo = {norm_surface(nm)}
        for k, n in ((1, int(v) - n2), (2, n2)):
            for _ in range(n):
                t = _typo(nm, k, rng)
                forms.append(t)
                if k == 1:
                    one_typo.add(norm_surface(t))
        for s in forms:
            n_s = norm_surface(s)
            # a norm owned by another entity would make truth ambiguous
            if norm_owner.setdefault(n_s, e) != e:
                one_typo.discard(n_s)
                continue
            truth.setdefault(s, e)
        guaranteed += len(one_typo) * (len(one_typo) - 1) // 2

    by_entity: list[list[str]] = [[] for _ in names]
    for s, e in truth.items():
        by_entity[e].append(s)

    # every surface is mentioned at least once, then Zipf-popular extras
    surfaces = list(truth)
    base = [surfaces[int(i)] for i in rng.permutation(len(surfaces))]
    if len(base) % 2:
        base.append(base[0])
    subj, obj = base[0::2], base[1::2]
    n_extra = max(spec.n_triples - len(subj), 0)
    p = ranks ** -spec.zipf_s
    ents = rng.choice(spec.n_entities, size=2 * n_extra, p=p / p.sum())
    picks = rng.random(2 * n_extra)
    for i in range(n_extra):
        for dst, j in ((subj, 2 * i), (obj, 2 * i + 1)):
            pool = by_entity[int(ents[j])]
            dst.append(pool[int(picks[j] * len(pool))])
    preds = rng.integers(0, len(PREDICATES), len(subj))
    triples = pd.DataFrame(
        {
            "conv_id": [
                f"lh{i // spec.triples_per_conv:08d}" for i in range(len(subj))
            ],
            "subj_surface": subj,
            "pred": [PREDICATES[int(i)] for i in preds],
            "obj_surface": obj,
        }
    )
    return LinkHeavyData(triples, truth, names, guaranteed)
