"""Each correctness check of the benchmark accepts a right result and
rejects a perturbed one.  Pure Python; run with

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402

# ----------------------------------------------------------------- oracle


def _frame():
    return pd.DataFrame({
        "doc_id": np.arange(5, dtype=np.int64),
        "n_words": np.array([10, 20, 30, 40, 50], dtype=np.int32),
        "ratio": [0.1, 0.25, 1 / 3, 0.5, np.nan],
        "lang": ["en", "de", "en", None, "fr"],
    })


def test_frames_match_accepts_reordered_rows_and_widened_types():
    ours = _frame()
    oracle = ours.iloc[::-1].astype({"n_words": "int64"}).reset_index(drop=True)
    oracle = oracle[["lang", "ratio", "n_words", "doc_id"]]
    assert checks.frames_match(ours, oracle) == []


def test_frames_match_rejects_a_dropped_row():
    assert checks.frames_match(_frame().iloc[1:], _frame())


def test_frames_match_rejects_a_changed_value():
    bad = _frame()
    bad.loc[2, "ratio"] = 0.3333
    assert checks.frames_match(bad, _frame())
    bad = _frame()
    bad.loc[0, "lang"] = "es"
    assert checks.frames_match(bad, _frame())


def test_frames_match_rejects_a_missing_column():
    assert checks.frames_match(_frame().drop(columns=["lang"]), _frame())


# ------------------------------------------------------------------ dedup

TEXTS = {
    1: "the quick brown fox jumps over the lazy dog again and again",
    2: "the quick brown fox jumps over the lazy dog again and again",
    3: "the quick brown fox jumps over the lazy dog again and once",
    4: "completely different words in this document here now",
}


def _pairs(rows):
    return pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"])


def _j(a, b):
    return checks.jaccard(checks.shingles(TEXTS[a]), checks.shingles(TEXTS[b]))


def test_dedup_accepts_true_pairs():
    pairs = _pairs([(1, 2, 1.0), (1, 3, _j(1, 3)), (2, 3, _j(2, 3))])
    assert checks.check_dedup_pairs(pairs, TEXTS, [[2, 1]], 0.8) == []


def test_dedup_rejects_a_removed_planted_pair():
    pairs = _pairs([(1, 3, _j(1, 3)), (2, 3, _j(2, 3))])
    assert checks.check_dedup_pairs(pairs, TEXTS, [[1, 2]], 0.8)


def test_dedup_rejects_a_pair_under_threshold():
    pairs = _pairs([(1, 2, 1.0), (1, 4, 0.9)])
    assert checks.check_dedup_pairs(pairs, TEXTS, [[1, 2]], 0.8)


def test_dedup_rejects_a_wrong_jaccard():
    pairs = _pairs([(1, 2, 1.0), (1, 3, _j(1, 3) - 0.01)])
    assert checks.check_dedup_pairs(pairs, TEXTS, [[1, 2]], 0.8)


def test_shingles_follow_the_documented_tokenizer():
    assert checks.shingles("  A b\tc  D ") == {"a b c", "b c d"}
    assert checks.shingles("one two") == {"one two"}


# ----------------------------------------------------------------- search


def _emb(n=40, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, dim))
    return pd.DataFrame({"vec_id": np.arange(n), "embedding": list(v.astype("float32"))})


def _topk_frame(brute, k, drop=None):
    rows = []
    for q, (ids, cos) in brute.items():
        order = np.argsort(-cos, kind="stable")[:k]
        rows += [(q, int(ids[i]), float(cos[i])) for i in order if (q, int(ids[i])) != drop]
    return pd.DataFrame(rows, columns=["query_id", "vec_id", "cosine"])


def test_exact_topk_accepts_brute_force_and_rejects_perturbations():
    brute = checks.brute_cosine(_emb(), range(3))
    good = _topk_frame(brute, 5)
    assert checks.check_exact_topk(good, brute, 5) == []
    assert checks.check_exact_topk(good.iloc[1:], brute, 5)  # one row dropped
    bad = good.copy()
    bad.loc[0, "cosine"] += 1e-6  # one value changed
    assert checks.check_exact_topk(bad, brute, 5)
    bad = good.copy()
    q, (ids, cos) = next(iter(brute.items()))
    worst = int(ids[np.argmin(cos)])
    bad.loc[0, ["vec_id", "cosine"]] = [worst, float(cos.min())]  # wrong neighbour
    assert checks.check_exact_topk(bad, brute, 5)


def test_recall_accepts_good_results_and_rejects_poor_ones():
    brute = checks.brute_cosine(_emb(), range(3))
    good = _topk_frame(brute, 10)
    assert checks.check_recall(good, brute, 10, 5) == []
    poor = good.groupby("query_id").head(4)
    assert checks.check_recall(poor, brute, 10, 5)
    bad = good.copy()
    bad.loc[3, "cosine"] = 0.0
    assert checks.check_recall(bad, brute, 10, 5)


def test_brute_force_leaves_out_the_query_itself():
    brute = checks.brute_cosine(_emb(), [0])
    assert 0 not in set(brute[0][0])


# --------------------------------------------------------------- lakehouse


def _model():
    return {i: (i % 4, i * 10, f"t{i}") for i in range(20)}


def _read(model):
    rows = [(i, g, v, t) for i, (g, v, t) in model.items()]
    return {"n": len(rows), "sum_val": sum(r[2] for r in rows)}, rows


def test_table_check_accepts_the_model():
    agg, rows = _read(_model())
    assert checks.check_table("t", agg, rows, _model()) == []


def test_table_check_rejects_an_altered_row():
    agg, rows = _read(_model())
    rows[3] = (rows[3][0], rows[3][1], rows[3][2], "changed")
    assert checks.check_table("t", agg, rows, _model())


def test_table_check_rejects_a_lost_row_and_a_wrong_aggregate():
    agg, rows = _read(_model())
    assert checks.check_table("t", agg, rows[1:], _model())
    assert checks.check_table("t", dict(agg, sum_val=agg["sum_val"] + 1), rows, _model())
    assert checks.check_table("t", dict(agg, n=agg["n"] - 1), rows, _model())
