"""Response checks against the pure-Python oracle's answers: ranked
top-k rank-identical with scores within 1e-9, boolean hit sets exact."""

from __future__ import annotations

SCORE_TOL = 1e-9


def ranked_ok(got: list, want: list) -> bool:
    """``got``: [{doc_id, score}], ``want``: [[doc_id, score]].

    Rank-identical with scores within ``SCORE_TOL``.  Docs whose oracle
    scores lie within ``SCORE_TOL`` of each other are tied, and a tie's
    order is left to float rounding (two docs with equal true scores can
    differ in the last bits, in either program), so within each run of
    tied ranks the doc ids must match as a set."""
    if len(got) != len(want):
        return False
    if any(abs(g["score"] - w[1]) > SCORE_TOL for g, w in zip(got, want)):
        return False
    start = 0
    for i in range(1, len(want) + 1):
        if i == len(want) or want[i - 1][1] - want[i][1] > SCORE_TOL:
            if {g["doc_id"] for g in got[start:i]} != {w[0] for w in want[start:i]}:
                return False
            start = i
    return True


def boolean_ok(got: dict, want: dict) -> bool:
    return (got["total_hits"] == want["total"]
            and [r["doc_id"] for r in got["results"]] == want["first"])


def response_ok(kind: str, query: str, res, expected: dict) -> bool:
    """One response of a workload request kind."""
    if kind == "boolean":
        return boolean_ok(res, expected["boolean"][query])
    if kind == "mm":
        return ranked_ok(res["results"], expected["mm"][query])
    return ranked_ok(res["results"], expected["ranked"][query])


def batch_ok(res: dict, expected: dict) -> bool:
    """Every query of one ``batch_ranked`` answer."""
    return all(ranked_ok(res.get(q, []), want) for q, want in expected["ranked"].items())
