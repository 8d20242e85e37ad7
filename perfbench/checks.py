"""Correctness checks, computed apart from the program under test.

Every function here is plain Python/numpy over fetched results and returns
a list of error strings (empty when the result is right), so a run can
report ``correct: false`` with the reason instead of stopping.  The
benchmark's own tests (test_checks.py) feed each check a perturbed result
and assert that it is rejected.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np

# --------------------------------------------------------------------------
# frames against an oracle
# --------------------------------------------------------------------------


def _canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return ("null",)
        if v == 0:
            return ("n", 0.0)
        digits = 9 - int(math.floor(math.log10(abs(v))))
        return ("n", round(v, max(0, digits)))
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("n", float(v)) if abs(int(v)) < 2**53 else ("i", int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(_canon(x) for x in v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return ("s", str(v))


def canonical_rows(pdf) -> tuple[list, list]:
    """Columns sorted by name; rows as canonical tuples, sorted."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return cols, rows


def frames_match(ours, oracle) -> list[str]:
    """Same columns and the same multiset of rows (floats to 10
    significant digits, NaN as NULL, integer and float of equal value
    equal)."""
    ocols, orows = canonical_rows(ours)
    dcols, drows = canonical_rows(oracle)
    if ocols != dcols:
        return [f"columns differ: {ocols} vs oracle {dcols}"]
    if len(orows) != len(drows):
        return [f"row count {len(orows)} vs oracle {len(drows)}"]
    for i, (a, b) in enumerate(zip(orows, drows)):
        if a != b:
            return [f"row {i} differs: {a} vs oracle {b}"]
    return []


# --------------------------------------------------------------------------
# near-duplicate detection (d35)
# --------------------------------------------------------------------------


def shingles(text: str | None, n: int = 3) -> set:
    """Word n-gram shingle set: the documented tokenization (trim, lower,
    split on whitespace), whole text as one shingle when shorter than n."""
    if text is None or text.strip() == "":
        toks = []
    else:
        toks = re.split(r"\s+", text.strip().lower())
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)


def check_dedup_pairs(pairs, texts: dict, planted_exact, threshold: float) -> list[str]:
    """``pairs`` has (id_a, id_b, jaccard).  Every planted exact-duplicate
    pair must be present, every pair must be ordered and unique, and each
    pair's Jaccard, recomputed here, must clear ``threshold`` and equal
    the reported one."""
    errs = []
    got = set()
    cache: dict = {}

    def sh(i):
        if i not in cache:
            cache[i] = shingles(texts[i])
        return cache[i]

    for a, b, j in pairs[["id_a", "id_b", "jaccard"]].itertuples(index=False, name=None):
        a, b = int(a), int(b)
        if a >= b:
            errs.append(f"pair ({a}, {b}) not ordered")
        if (a, b) in got:
            errs.append(f"pair ({a}, {b}) repeated")
        got.add((a, b))
        if a not in texts or b not in texts:
            errs.append(f"pair ({a}, {b}) names an unknown document")
            continue
        true_j = jaccard(sh(a), sh(b))
        if true_j < threshold:
            errs.append(f"pair ({a}, {b}) has Jaccard {true_j:.4f} < {threshold}")
        if abs(true_j - float(j)) > 1e-9:
            errs.append(f"pair ({a}, {b}) reports Jaccard {j} but it is {true_j:.6f}")
    for a, b in planted_exact:
        key = (min(a, b), max(a, b))
        if key not in got:
            errs.append(f"planted exact duplicate {key} not found")
    return errs[:5]


# --------------------------------------------------------------------------
# vector search (s38, s39, s40)
# --------------------------------------------------------------------------


def brute_cosine(emb, query_ids) -> dict:
    """{query_id: (vec_ids, cosines)} over the rest of the corpus (a query
    is not its own neighbour), float64."""
    ids = np.asarray(emb["vec_id"], dtype=np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    norms = np.linalg.norm(mat, axis=1)
    pos = {int(i): p for p, i in enumerate(ids)}
    out = {}
    for q in query_ids:
        p = pos[int(q)]
        cos = mat @ mat[p] / (norms * norms[p])
        keep = ids != int(q)
        out[int(q)] = (ids[keep], cos[keep])
    return out


def _topk_ids(cands, cos, k: int, tol: float = 1e-9) -> tuple[set, set]:
    """(ids that must be in a top-k with ties kept, ids that may be)."""
    kth = np.sort(cos)[::-1][k - 1]
    must = {int(i) for i, c in zip(cands, cos) if c > kth + tol}
    may = {int(i) for i, c in zip(cands, cos) if c >= kth - tol}
    return must, may


def check_exact_topk(result, brute: dict, k: int) -> list[str]:
    """``result`` has (query_id, vec_id, cosine): the exact top-k with rank
    ties kept, cosines equal to the brute force."""
    errs = []
    for q, (cands, cos) in brute.items():
        sub = result[result["query_id"] == q]
        got = {int(i): float(c) for i, c in zip(sub["vec_id"], sub["cosine"])}
        must, may = _topk_ids(cands, cos, k)
        if not must <= set(got) or not set(got) <= may or len(got) < k:
            errs.append(f"query {q}: top-{k} ids differ from brute force")
            continue
        exact = dict(zip((int(i) for i in cands), cos))
        for i, c in got.items():
            if abs(exact[i] - c) > 1e-9:
                errs.append(f"query {q}: cosine of {i} is {c}, brute force {exact[i]}")
                break
    return errs


def check_recall(result, brute: dict, k: int, min_hits: int) -> list[str]:
    """Approximate top-k: at least ``min_hits`` of each query's k results
    are in the exact top-k, and every reported cosine is the true one."""
    errs = []
    for q, (cands, cos) in brute.items():
        sub = result[result["query_id"] == q]
        got = [int(i) for i in sub["vec_id"]]
        _, may = _topk_ids(cands, cos, k)
        hits = len(set(got) & may)
        if hits < min_hits:
            errs.append(f"query {q}: recall {hits}/{k} < {min_hits}/{k}")
        exact = dict(zip((int(i) for i in cands), cos))
        for i, c in zip(got, sub["cosine"]):
            if i not in exact or abs(exact[i] - float(c)) > 1e-9:
                errs.append(f"query {q}: cosine of {i} is {c}, true {exact.get(i)}")
                break
    return errs


# --------------------------------------------------------------------------
# lakehouse tables against an in-memory model
# --------------------------------------------------------------------------


def content_hash(rows) -> str:
    """Order-independent digest of (id, grp, val, txt) rows."""
    h = hashlib.sha256()
    for r in sorted((int(a), int(b), int(c), str(d)) for a, b, c, d in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def check_table(name: str, agg: dict, rows, model: dict) -> list[str]:
    """``agg`` = {n, sum_val} from the read's aggregate, ``rows`` the full
    table content; ``model`` = {id: (grp, val, txt)}."""
    errs = []
    want_n = len(model)
    want_sum = sum(v[1] for v in model.values())
    if agg["n"] != want_n:
        errs.append(f"{name}: count {agg['n']} vs model {want_n}")
    if agg["sum_val"] != want_sum:
        errs.append(f"{name}: sum(val) {agg['sum_val']} vs model {want_sum}")
    want = content_hash((i, g, v, t) for i, (g, v, t) in model.items())
    if content_hash(rows) != want:
        errs.append(f"{name}: content differs from the model")
    return errs
