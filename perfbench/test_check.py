"""Tests of the benchmark's output checker, oracle and input generator.

Pure Python, no Spark:

    python3 -m pytest perfbench/test_check.py -q -p no:cacheprovider

A correct answer must pass and every perturbed one (wrong docid, dropped
doc, score off by more than the tolerance, wrong statistics) must fail.
"""

import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pytest  # noqa: E402

import gen  # noqa: E402
from check import (  # noqa: E402
    RTOL,
    check_build,
    check_docids,
    check_none_of,
    check_postings,
    check_sha,
    check_topk,
    expected_topk,
    postings_digest,
)
from oracle import Oracle  # noqa: E402

DOCS = [
    (0, "cat dog cat"),
    (1, "dog information retrieval"),
    (2, "the cat and the dog"),
    (3, "information retrieval systems"),
    (4, "stemming stems stemmed"),
    (5, "quick brown fox; quick brown dog!"),
    (6, ""),
    (7, "cat cat cat cat dog"),
]


@pytest.fixture
def orc():
    return Oracle.of(DOCS)


def bm25_by_hand(docs, terms, k1=1.2, b=0.75):
    """Independent BM25 over already analysed token lists."""
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    scores = {}
    for t in set(terms):
        df = sum(1 for toks in docs.values() if t in toks)
        if not df:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for d, toks in docs.items():
            tf = toks.count(t)
            if tf:
                s = terms.count(t) * idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
                scores[d] = scores.get(d, 0.0) + s
    return scores


def test_oracle_bm25_matches_formula(orc):
    ref = bm25_by_hand(orc.tokens, ["cat", "dog"])
    got = orc.bm25(["cat", "dog"])
    assert got.keys() == ref.keys()
    for d in ref:
        assert got[d] == pytest.approx(ref[d], rel=1e-12)


def test_oracle_tfidf_reference_quirks(orc):
    # single term: normalised over query terms only → one score for every match
    assert len(set(orc.tfidf(["cat"]).values())) == 1
    # idf without log: N/df
    n, df_cat = orc.n_docs, len(orc.postings["cat"])
    s = orc.tfidf(["cat", "cat", "dog"])
    d = 0  # tf(cat)=2, tf(dog)=1
    idf_c, idf_d = n / df_cat, n / len(orc.postings["dog"])
    dot = 2 * idf_c * (2 * idf_c) + 1 * idf_d * idf_d
    norm = math.sqrt((2 * idf_c) ** 2 + idf_d**2)
    assert s[d] == pytest.approx(dot / norm)


def test_oracle_boolean_and_phrase(orc):
    assert orc.and_(["cat", "dog"]) == {0, 2, 7}
    assert orc.and_(["cat", "the"]) == set()  # stopword-only conjunct
    assert orc.or_(["fox", "systems"]) == {3, 5}
    assert orc.keyword("stemming") == {4}
    assert orc.phrase(["information", "retrieval"]) == {1, 3}
    assert orc.phrase(["retrieval", "information"]) == set()
    assert orc.phrase(["quick", "brown"]) == {5}


def test_oracle_tracks_live_set(orc):
    orc.remove(7)
    orc.add(9, "cat dog")
    assert orc.and_(["cat", "dog"]) == {0, 2, 9}
    assert orc.n_docs == 8
    assert orc.doclens()[9] == 2


def test_topk_accepts_exact_answer(orc):
    scores = orc.bm25(["cat", "dog"])
    assert check_topk(expected_topk(scores, 3), scores, 3) is None


def test_topk_accepts_tie_swap_across_boundary():
    scores = {1: 3.0, 2: 2.0, 3: 2.0, 4: 1.0}
    # docs 2 and 3 tie at the k boundary: either may be returned
    assert check_topk([(1, 3.0), (3, 2.0)], scores, 2) is None
    assert check_topk([(1, 3.0), (2, 2.0)], scores, 2) is None
    assert check_topk([(1, 3.0), (3, 2.0), (2, 2.0)], scores, 3) is None


def test_topk_accepts_rounding_within_tolerance():
    scores = {1: 3.0, 2: 2.0}
    assert check_topk([(1, 3.0 * (1 + RTOL / 10)), (2, 2.0)], scores, 2) is None


def test_topk_rejects_wrong_docid(orc):
    scores = orc.bm25(["cat", "dog"])
    got = expected_topk(scores, 3)
    got[1] = (4, got[1][1])  # doc 4 does not match the query
    assert check_topk(got, scores, 3) is not None


def test_topk_rejects_swapped_non_tied_docs():
    scores = {1: 3.0, 2: 2.0, 3: 1.0}
    assert check_topk([(2, 3.0), (1, 2.0), (3, 1.0)], scores, 3) is not None


def test_topk_rejects_dropped_doc(orc):
    scores = orc.bm25(["cat", "dog"])
    got = expected_topk(scores, 3)
    assert check_topk(got[:2], scores, 3) is not None
    assert check_topk(got[:1] + got[2:], scores, 3) is not None


def test_topk_rejects_score_off_by_more_than_tolerance(orc):
    scores = orc.bm25(["cat", "dog"])
    got = expected_topk(scores, 3)
    d, s = got[2]
    got[2] = (d, s * (1 + 100 * RTOL))
    assert check_topk(got, scores, 3) is not None


def test_topk_rejects_duplicate_docid():
    scores = {1: 2.0, 2: 2.0}
    assert check_topk([(1, 2.0), (1, 2.0)], scores, 2) is not None


def test_docids_exact_sets(orc):
    exp = orc.and_(["cat", "dog"])
    assert check_docids(sorted(exp), exp) is None
    assert check_docids([0, 2], exp) is not None  # dropped
    assert check_docids([0, 2, 5, 7], exp) is not None  # extra
    assert check_docids([2, 0, 7], exp) is not None  # unordered
    assert check_docids([0, 2, 2, 7], exp) is not None  # duplicate


def test_tombstoned_docids_never_returned():
    assert check_none_of([1, 2, 3], {4, 5}) is None
    assert check_none_of([1, 2, 4], {4, 5}) is not None


def test_build_statistics(orc):
    df, dl = orc.df(), orc.doclens()
    args = (orc.df(), orc.doclens(), orc.n_docs)
    assert check_build(df, dl, orc.n_docs, orc.avgdl, *args) is None
    assert check_build(df, dl, orc.n_docs - 1, orc.avgdl, *args) is not None
    assert check_build(df, dl, orc.n_docs, orc.avgdl * 1.001, *args) is not None
    bad_dl = {**dl, 0: dl[0] + 1}
    assert check_build(df, bad_dl, orc.n_docs, orc.avgdl, *args) is not None
    bad_df = dict(df, cat=df["cat"] - 1)
    assert check_build(bad_df, dl, orc.n_docs, orc.avgdl, *args) is not None
    missing = {t: v for t, v in df.items() if t != "dog"}
    assert check_build(missing, dl, orc.n_docs, orc.avgdl, *args) is not None


def test_postings_digest(orc):
    rows = list(orc.posting_rows())
    assert ("cat", 7, [0, 1, 2, 3]) in rows
    ref = postings_digest(rows)
    assert check_postings(postings_digest(rows), ref) is None
    i = rows.index(("cat", 7, [0, 1, 2, 3]))
    perturbed = [
        (*rows[i][:1], 6, rows[i][2]),  # wrong docid
        (*rows[i][:2], [0, 1, 2]),  # tf one lower
        (*rows[i][:2], [0, 1, 2, 4]),  # wrong position
    ]
    for bad in perturbed:
        assert check_postings(postings_digest(rows[:i] + [bad] + rows[i + 1 :]), ref) is not None
    assert check_postings(postings_digest(rows[:i] + rows[i + 1 :]), ref) is not None  # dropped


def test_sha_per_row():
    import hashlib

    good = hashlib.sha256(b"abc").hexdigest()
    assert check_sha([("abc", good)]) is None
    assert check_sha([("abd", good)]) is not None


def test_generator_is_seeded():
    a = gen.make_corpus(7, 50, 500, 30)
    b = gen.make_corpus(7, 50, 500, 30)
    c = gen.make_corpus(8, 50, 500, 30)
    assert a.contents == b.contents and a.paths == b.paths
    assert a.contents != c.contents


def test_generator_term_classes_and_queries():
    corpus = gen.make_corpus(3, 400, 2000, 60)
    orc = Oracle.of(enumerate(corpus.contents))
    from mini_search_engine_spark.analysis import analyze

    raw_of = {}
    for w in corpus.vocab:
        toks = analyze(w)
        if len(toks) == 1:
            raw_of.setdefault(toks[0], w)
    classes = gen.term_classes(orc.df(), raw_of, orc.n_docs, corpus.absent)
    for cls in ("head", "torso", "tail", "absent"):
        assert classes[cls], cls
    assert all(not orc.or_([w]) for w in classes["absent"])
    shapes = (("bm25", ("head", "tail")), ("and", ("torso", "absent")), ("phrase", ("planted",)))
    for pick in (gen.zipf_pick, gen.band_pick):
        q1 = gen.shaped_queries(3, 1, classes, corpus.phrases, shapes, 30, pick)
        q2 = gen.shaped_queries(3, 1, classes, corpus.phrases, shapes, 30, pick)
        assert [q.__dict__ for q in q1] == [q.__dict__ for q in q2]
        assert [q.op for q in q1[:3]] == ["bm25", "and", "phrase"]
        assert all(not orc.and_(q.words) for q in q1 if q.op == "and")
    # planted phrases are found
    assert any(orc.phrase(list(p)) for p in corpus.phrases)


def test_ingest_stream_keeps_live_set_consistent():
    corpus = gen.make_corpus(5, 300, 1000, 20)
    commits = gen.ingest_stream(5, corpus, 200, 12, 40)
    live = set(range(200))
    ever = set(live)
    for c in commits:
        assert set(c.replaced) <= live
        live -= set(c.replaced)
        new = {d for d, _ in c.new}
        assert not new & ever  # docids are fresh
        live |= new
        ever |= new
    assert {c.kind for c in commits} == {"upsert", "delete"}


def test_benchmark_json_matches_the_runner():
    import json
    import re

    import run
    from workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert name.match(m["name"]) and m["better"] in ("lower", "higher")
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
