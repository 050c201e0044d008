"""The link_heavy generator: deterministic, truthful, above the CC threshold."""

import hashlib
import itertools

import pytest

import linkgen
from linkgen import LinkHeavySpec, generate, norm_surface

DRIVER_THRESHOLD = 200_000  # connected_components' default driver_threshold


def _bytes(data) -> bytes:
    return data.triples.to_csv(index=False).encode("utf-8") + repr(
        sorted(data.truth.items())
    ).encode("utf-8")


@pytest.fixture(scope="module")
def data():
    return generate(7)


def test_same_seed_same_bytes(data):
    again = generate(7)
    assert hashlib.sha256(_bytes(data)).digest() == hashlib.sha256(_bytes(again)).digest()


def test_other_seed_other_data(data):
    assert _bytes(generate(8)) != _bytes(data)


def test_truth_matches_emitted_surfaces(data):
    t = data.triples
    emitted = set(t["subj_surface"]) | set(t["obj_surface"])
    assert emitted == set(data.truth)
    assert len(t) == LinkHeavySpec().n_triples
    assert set(t["pred"]) <= set(linkgen.PREDICATES)


def test_each_norm_belongs_to_one_entity(data):
    owner = {}
    for s, e in data.truth.items():
        assert owner.setdefault(norm_surface(s), e) == e


def test_variants_of_each_kind(data):
    hub = data.names[0]
    forms = {s for s, e in data.truth.items() if e == 0}
    assert hub in forms and hub.lower() in forms
    assert any(
        s != hub and len(s) == len(hub) and sum(a != b for a, b in zip(s, hub)) == 2
        for s in forms
    )


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_match_pairs_clear_driver_threshold(seed):
    # margin: LSH recall below 1 must not drop the CC below threshold
    assert generate(seed).guaranteed_pairs > 1.15 * DRIVER_THRESHOLD


def _ratio(a: str, b: str) -> float:
    """The pipeline's ratio_expr: 100 * (1 - levenshtein / max length)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return 100.0 * (1 - prev[-1] / max(len(a), len(b), 1))


def test_one_char_variants_verify_pairwise():
    spec = LinkHeavySpec(n_entities=30, max_variants=12, min_variants=12,
                         two_typo_share=0.0, n_triples=500)
    d = generate(5, spec)
    norms = {}
    for s, e in d.truth.items():
        norms.setdefault(e, set()).add(norm_surface(s))
    pairs = 0
    for group in norms.values():
        for a, b in itertools.combinations(sorted(group), 2):
            assert _ratio(a, b) >= 90.0, (a, b)
            pairs += 1
    assert pairs == d.guaranteed_pairs
