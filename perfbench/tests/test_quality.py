"""Quality scorers and the output digest."""

import pytest

from quality import pair_scores, rows_digest, triple_scores

TRUTH = {"Anna": 0, "anna": 0, "Anxa": 0, "Bert": 1, "Bxrt": 1, "Carl": 2}


def test_perfect_clustering():
    clusters = [["Anna", "anna", "Anxa"], ["Bert", "Bxrt"], ["Carl"]]
    assert pair_scores(clusters, TRUTH) == (1.0, 1.0)


def test_merge_costs_precision():
    # 3 + 1 true pairs; merged cluster predicts C(5,2) = 10 pairs
    p, r = pair_scores([["Anna", "anna", "Anxa", "Bert", "Bxrt"], ["Carl"]], TRUTH)
    assert (p, r) == (4 / 10, 1.0)


def test_split_and_missing_cost_recall():
    # Anxa missing from every node, Bert/Bxrt split: 1 of 4 true pairs found
    p, r = pair_scores([["Anna", "anna"], ["Bert"], ["Bxrt"], ["Carl"]], TRUTH)
    assert (p, r) == (1.0, 1 / 4)


def test_unknown_surface_is_an_error():
    with pytest.raises(ValueError):
        pair_scores([["Zed"]], TRUTH)


def test_triple_scores_normalize_truth():
    truth = [("Jürgen Müller", "works_at", "Acme  Corp"), ("Anna X", "uses", "Wiki")]
    ours = {("juergen mueller", "works_at", "acme corp"), ("bogus", "uses", "wiki")}
    assert triple_scores(ours, truth) == (0.5, 0.5)


def test_digest_ignores_row_order():
    rows = [("a", 1), ("b", 2)]
    assert rows_digest(rows) == rows_digest(reversed(rows))
    assert rows_digest(rows) != rows_digest([("a", 1), ("b", 3)])
