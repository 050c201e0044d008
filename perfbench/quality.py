"""Output checks and quality scores against the generators' ground truth.

Pure Python over collected rows, so the scorer can be tested without
Spark. Two scores:

* `triple_scores` — canonical (subj, pred, obj) triples against the
  transcripts generator's `triples_ref`, both sides normalized like the
  pipeline's norm_surface (umlaut fold, lowercase, squeezed whitespace).
* `pair_scores` — pairwise clustering precision/recall for `link_heavy`:
  two surfaces are a predicted pair when they are aliases of one node,
  and a true pair when the generator made them for one entity. Counted
  from the contingency table, never by enumerating pairs.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Iterable, Mapping

from linkgen import norm_surface


def _ratio(num: int, den: int) -> float:
    return num / den if den else 0.0


def triple_scores(
    ours: Iterable[tuple[str, str, str]],
    truth: Iterable[tuple[str, str, str]],
) -> tuple[float, float]:
    """(precision, recall) of distinct canonical triples. `truth` holds the
    generator's entity names, normalized here; `ours` are the pipeline's
    canonical names, which are normalized surfaces already."""
    ours_set = set(ours)
    truth_set = {(norm_surface(s), p, norm_surface(o)) for s, p, o in truth}
    common = len(ours_set & truth_set)
    return _ratio(common, len(ours_set)), _ratio(common, len(truth_set))


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_scores(
    clusters: Iterable[Iterable[str]], truth: Mapping[str, int]
) -> tuple[float, float]:
    """(precision, recall) of same-entity surface pairs. `clusters` are the
    alias lists of the pipeline's nodes; every surface in `truth` was in
    the input, so one missing from every node costs recall."""
    cells: Counter[tuple[int, int]] = Counter()
    predicted = 0
    for k, aliases in enumerate(clusters):
        members = set(aliases)
        predicted += _pairs(len(members))
        for s in members:
            if s not in truth:
                raise ValueError(f"surface {s!r} not produced by the generator")
            cells[(k, truth[s])] += 1
    true_pairs = sum(_pairs(n) for n in Counter(truth.values()).values())
    both = sum(_pairs(n) for n in cells.values())
    return _ratio(both, predicted), _ratio(both, true_pairs)


def rows_digest(rows: Iterable[tuple]) -> str:
    """Order-independent sha256 of a table's rows (sorted repr lines)."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()
