"""Output checks: compare an engine answer against the oracle's.

Every function returns ``None`` when the answer is correct and a short
description of the first difference otherwise; the caller records the
query and both answers next to it.

Ranked results survive ties: scores are compared position by position
within ``RTOL``, and every returned docid must carry its own oracle score.
So documents with equal scores may swap, also across the k boundary, but
a wrong, missing or duplicated document, or a score off by more than the
tolerance, is a mismatch.
"""

from __future__ import annotations

import hashlib
import math

RTOL = 1e-9  # relative; Spark sums the same terms in another order
ATOL = 1e-12


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=RTOL, abs_tol=ATOL)


def expected_topk(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def check_topk(got: list[tuple[int, float]], scores: dict[int, float], k: int) -> str | None:
    exp = expected_topk(scores, k)
    if len(got) != len(exp):
        return f"returned {len(got)} rows, expected {len(exp)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate docid in result"
    for i, ((_, gs), (_, es)) in enumerate(zip(got, exp)):
        if not close(gs, es):
            return f"rank {i}: score {gs!r}, expected {es!r}"
    for d, gs in got:
        if d not in scores:
            return f"docid {d} does not match the query"
        if not close(scores[d], gs):
            return f"docid {d}: score {gs!r}, its oracle score is {scores[d]!r}"
    return None


def check_docids(got: list[int], expected: set[int]) -> str | None:
    if len(set(got)) != len(got):
        return "duplicate docid in result"
    if got != sorted(got):
        return "docids not in ascending order"
    s = set(got)
    if s != expected:
        extra = sorted(s - expected)[:5]
        missing = sorted(expected - s)[:5]
        return f"{len(s - expected)} extra (e.g. {extra}), {len(expected - s)} missing (e.g. {missing})"
    return None


def check_none_of(got: list[int], forbidden: set[int]) -> str | None:
    bad = sorted(set(got) & forbidden)
    if bad:
        return f"tombstoned docids returned: {bad[:5]}"
    return None


def check_build(
    df: dict[str, int],
    doclens: dict[int, int],
    n_docs: int,
    avgdl: float,
    ref_df: dict[str, int],
    ref_doclens: dict[int, int],
    ref_n_docs: int,
) -> str | None:
    """Index statistics against the oracle: n_docs, avgdl, every doc
    length, every term's df."""
    if n_docs != ref_n_docs:
        return f"n_docs {n_docs}, expected {ref_n_docs}"
    ref_avgdl = sum(ref_doclens.values()) / ref_n_docs if ref_n_docs else 0.0
    if not close(avgdl, ref_avgdl):
        return f"avgdl {avgdl!r}, expected {ref_avgdl!r}"
    if doclens != ref_doclens:
        bad = [d for d in ref_doclens if doclens.get(d) != ref_doclens[d]][:5]
        bad += [d for d in doclens if d not in ref_doclens][:5]
        return f"doclens differ, e.g. docids {bad}"
    if df != ref_df:
        bad = [t for t in set(df) | set(ref_df) if df.get(t) != ref_df.get(t)][:5]
        return f"df differs for {len(set(df) ^ set(ref_df)) or 'some'} terms, e.g. {bad}"
    return None


def postings_digest(rows) -> dict[str, tuple[int, int, int, int, int]]:
    """Per-term sums over postings ``(term, docid, positions)``: the number
    of postings, Σ docid, Σ tf, Σ docid·tf and Σ (position + 1)·(docid + 1).
    A wrong, missing or extra docid, tf or position changes one of them.
    ``workloads.index_digest`` computes the same sums in Spark."""
    out: dict[str, list[int]] = {}
    for term, d, positions in rows:
        a = out.setdefault(term, [0, 0, 0, 0, 0])
        tf = len(positions)
        a[0] += 1
        a[1] += d
        a[2] += tf
        a[3] += d * tf
        a[4] += sum(p + 1 for p in positions) * (d + 1)
    return {t: tuple(a) for t, a in out.items()}


def check_postings(got: dict, ref: dict) -> str | None:
    """Every term's postings digest against the oracle's."""
    if got != ref:
        bad = sorted(t for t in set(got) | set(ref) if got.get(t) != ref.get(t))
        return f"postings differ for {len(bad)} terms, e.g. {[(t, got.get(t), ref.get(t)) for t in bad[:3]]}"
    return None


def check_sha(rows: list[tuple[str, str]]) -> str | None:
    """Per-row invariant: the corpus ``sha`` column is sha256(content)."""
    for content, sha in rows:
        if hashlib.sha256(content.encode("utf-8")).hexdigest() != sha:
            return f"sha256 mismatch for content {content[:40]!r}"
    return None
