"""Output checks. Each takes the engine's rows and the numpy truth and
returns a list of problems (empty = pass); ``Tally`` counts every checked
operation as attempted, and as failed when a check reports a problem.

Scores are compared with a tolerance of a few units in the 6th decimal:
the engine and numpy sum in different orders, so a score can round to a
neighbouring 6-decimal value. A near-tie may therefore swap places; a
swap of two ranks whose scores differ by more than the tolerance fails.
"""

from __future__ import annotations

import sys

import numpy as np

from gen import topk

TOL = 3e-6


class Tally:
    MAX_REPORTED = 5  # failures printed to stderr per run

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, op: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            if self.failed <= self.MAX_REPORTED:
                print(f"check failed [{op}]: {'; '.join(problems[:3])}", file=sys.stderr)
        return not problems


def check_valid_subset(got_ids, got_scores, ids: np.ndarray, scores: np.ndarray, k: int) -> list[str]:
    """An approximate top-k: min(k, candidates) distinct candidates, each
    with its exact score, in descending score order."""
    got_ids, got_scores = list(got_ids), np.asarray(got_scores, dtype=float)
    if len(got_ids) != min(k, len(ids)):
        return [f"{len(got_ids)} rows, want {min(k, len(ids))}"]
    if len(set(got_ids)) != len(got_ids):
        return ["duplicate ids"]
    cand = np.isin(ids, got_ids)
    score_of = dict(zip(ids[cand].tolist(), np.round(scores[cand], 6).tolist()))
    problems = []
    for r, (gid, gs) in enumerate(zip(got_ids, got_scores)):
        if gid not in score_of:
            problems.append(f"rank {r + 1}: id {gid} not a candidate")
        elif abs(gs - score_of[gid]) > TOL:
            problems.append(f"rank {r + 1}: id {gid} score {gs} != {score_of[gid]}")
    if np.any(np.diff(got_scores) > TOL):
        problems.append("scores not in descending order")
    return problems


def check_topk(got_ids, got_scores, ids: np.ndarray, scores: np.ndarray, k: int) -> list[str]:
    """The exact top-k up to near-ties: a valid answer whose rank i holds
    a score equal to numpy's i-th best."""
    problems = check_valid_subset(got_ids, got_scores, ids, scores, k)
    if problems:
        return problems
    want_ids, want_scores = topk(ids, scores, k)
    for r, (gid, gs) in enumerate(zip(got_ids, got_scores)):
        if abs(gs - want_scores[r]) > TOL:
            problems.append(f"rank {r + 1}: id {gid} ({gs}) where numpy has {want_ids[r]} ({want_scores[r]})")
    return problems


def recall(got_ids, truth_ids) -> float:
    return len(set(got_ids) & set(truth_ids)) / len(truth_ids)


def check_excludes(got_ids, query_id) -> list[str]:
    return [f"returned its own query {query_id}"] if query_id in set(got_ids) else []


def check_product_fields(rows, products) -> list[str]:
    """brand / n_reviews / avg_rating of returned products match the
    pandas group-by of reviews.csv."""
    p = products.set_index("id")
    problems = []
    for r in rows:
        t = p.loc[r["id"]]
        if r["brand"] != t["brand"] or r["n_reviews"] != t["n_reviews"]:
            problems.append(f"{r['id']}: brand/n_reviews {r['brand']}/{r['n_reviews']}")
        want = t["avg_rating"]
        got = r["avg_rating"]
        if (got is None) != bool(np.isnan(want)) or (got is not None and abs(got - want) > 1e-9):
            problems.append(f"{r['id']}: avg_rating {got} != {want}")
    return problems


def check_compare(rows, pids: list, truth: np.ndarray) -> list[str]:
    """Long-form (id_a, id_b, score): the full square, symmetric, unit
    diagonal, equal to numpy's V @ V.T."""
    got = {(r["id_a"], r["id_b"]): r["score"] for r in rows}
    n = len(pids)
    if len(got) != n * n:
        return [f"{len(got)} cells, want {n * n}"]
    problems = []
    for i, a in enumerate(pids):
        for j, b in enumerate(pids):
            s = got.get((a, b))
            if s is None:
                problems.append(f"missing ({a},{b})")
                continue
            if abs(s - got.get((b, a), np.inf)) > 1e-12:
                problems.append(f"asymmetric at ({a},{b})")
            if i == j and abs(s - 1.0) > TOL:
                problems.append(f"diagonal {a} = {s}")
            if abs(s - truth[i, j]) > TOL:
                problems.append(f"({a},{b}) = {s}, numpy {truth[i, j]}")
    return problems


def split_by_query(rows) -> dict:
    """KNN rows -> {query_id: (neighbor ids, scores)} in rank order."""
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        ids, scores = out.setdefault(r["query_id"], ([], []))
        ids.append(r["neighbor_id"])
        scores.append(r["score"])
    return out
