"""The workloads, ``build`` and ``serve``, and the probes of the traced run.

A workload prepares its inputs (untimed), sets up several times
(``setup_s`` is the median), then ``measure(traced)`` works for about
``seconds`` and checks every answer it timed against the oracle. An
untraced run calls ``measure`` once. A traced run calls it untraced and
then traced; the difference in query p50 is the tracing overhead, and the
traced call adds probes for layers the timed loop does not reach: the
codec scan and tokenization on ``build``; the micro-batcher under
open-loop arrivals and the streaming layers (``IngestProbe``, writes beside
a serving index) on ``serve``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import gen
from check import (
    check_build,
    check_docids,
    check_none_of,
    check_postings,
    check_sha,
    check_topk,
    expected_topk,
    postings_digest,
)
from oracle import RANKED, Oracle

TOPK = 10
# setup_s is the median of these; a corpus load is cheaper than a read and
# warm of the index, and spreads more
BUILD_SETUP_REPEATS = 7
SERVE_SETUP_REPEATS = 5
CORES = max(1, min(4, os.cpu_count() or 1))

# corpus sizes: large enough that analysis and postings work show in every
# build, small enough that 4 + 22 × 2 runs of about a minute each fit the
# benchmark's time budget on 4 cores
BUILD_DOCS = 3000
WARMUP_DOCS = 300
SERVE_DOCS = 4000
INGEST_INITIAL = 1000
INGEST_BATCH = 100
INGEST_COMMITS = 5  # with COMPACT_THRESHOLD 3: two compactions and one delete
INGEST_QUERIES = 2  # after each commit
VOCAB = 12000
MEAN_LEN = 100
INGEST_BLOCK_SPAN = 256
COMPACT_THRESHOLD = 3

# query shapes, (op, term classes); see gen.shaped_queries. The serve cycle
# has every op, every term class and absent terms, and is half ranked
# queries, so its median is a ranked-query latency; its words are Zipf
# picks, so popular terms repeat and hit the df memo.
SERVE_SHAPES = (
    ("bm25", ("head",)),
    ("tfidf", ("torso",)),
    ("and", ("head", "torso")),
    ("bm25", ("torso", "tail")),
    ("keyword", ("head",)),
    ("bm25", ("absent", "torso")),
    ("or", ("torso",)),
    ("bm25", ("torso",)),
    ("phrase", ("planted",)),
    ("tfidf", ("head", "tail")),
    ("bm25", ("head", "torso")),
    ("and", ("torso", "tail")),
    ("bm25", ("tail",)),
    ("keyword", ("tail",)),
    ("tfidf", ("torso", "torso")),
    ("bm25", ("head", "tail")),
    ("or", ("head", "tail")),
    ("phrase", ("reversed",)),
    ("and", ("head", "head")),
    ("phrase", ("planted",)),
)
WARM_CYCLES = 1  # untimed serve cycles before the first timed one
# the on-disk set is mostly BM25, so its median is a BM25 latency; it runs
# once on each of the two indexes a build cycle writes
DISK_SHAPES = (
    ("bm25", ("head", "torso")),
    ("bm25", ("torso", "tail")),
    ("bm25", ("torso",)),
    ("bm25", ("head",)),
    ("bm25", ("torso", "torso")),
    ("and", ("head", "torso")),
    ("phrase", ("planted",)),
)
INGEST_SHAPES = (("bm25", ("torso",)), ("and", ("head", "torso")))
OPEN_SHAPES = (("bm25", ("torso",)), ("bm25", ("head", "torso")), ("bm25", ("tail",)))

# open-loop probe of the serving layer (traced serve run only). capacity.py
# on a 4-core VM, with tracing on as in the probe: latency from due time
# stayed at 0.7-1.5 s from 1 to 256 queries/s (a micro-batch of up to 256
# queries takes about a second) and rose to 4.1 s at 320/s; answers per
# second stopped growing past 192/s. Capacity is 192-256/s; the probe runs
# at about half.
OPEN_RATE_PER_S = 100.0
OPEN_PROBE_S = 10.0
OPEN_WARM_BATCH = 40


@dataclass
class Ledger:
    attempted: Counter = field(default_factory=Counter)
    failed: Counter = field(default_factory=Counter)
    mismatches: list = field(default_factory=list)

    def record(self, op: str, err: str | None, **detail) -> bool:
        self.attempted[op] += 1
        if err is None:
            return True
        self.failed[op] += 1
        self.mismatches.append({"op": op, "error": err, **detail})
        return False


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str
    ledger: Ledger = field(default_factory=Ledger)
    phases: dict = field(default_factory=dict)  # untimed preparation, wall seconds
    latencies: dict = field(default_factory=dict)  # query op → seconds of each correct answer
    check_s: float = 0.0  # time spent checking answers inside timed loops

    @contextmanager
    def phase(self, name: str):
        """Record the wall time of one preparation step (reported on stderr)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0


def median(xs) -> float:
    return float(statistics.median(xs))


def another_cycle(t0: float, cycles: list[float], seconds: float) -> bool:
    """Whole cycles only: start one more while it would end closer to
    ``seconds`` than stopping now would."""
    return not cycles or time.perf_counter() - t0 + statistics.fmean(cycles) / 2 <= seconds


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


def _engine_df(idx, q: gen.Query):
    from mini_search_engine_spark.search import (
        bm25_topk,
        search_and,
        search_keyword,
        search_or,
        search_phrase,
        search_tfidf,
    )

    if q.op == "bm25":
        return bm25_topk(idx, q.words, TOPK)
    if q.op == "tfidf":
        return search_tfidf(idx, q.words, TOPK)
    if q.op == "and":
        return search_and(idx, q.words)
    if q.op == "or":
        return search_or(idx, q.words)
    if q.op == "phrase":
        return search_phrase(idx, " ".join(q.words))
    if q.op == "keyword":
        return search_keyword(idx, q.words[0])
    raise ValueError(q.op)


def layer_of(q: gen.Query) -> str:
    return "search.ranking" if q.op in RANKED else "search.boolean"


def run_query(ctx: Ctx, idx, q: gen.Query):
    """Construct and collect one query; returns (answer, seconds)."""
    tr = ctx.tracer
    layer = layer_of(q)
    t0 = time.perf_counter()
    with tr.span(f"{layer}.construct"):
        df = _engine_df(idx, q)
    with tr.span(f"{layer}.collect"):
        rows = df.collect()
    dt = time.perf_counter() - t0
    if q.op in RANKED:
        return [(int(r["docid"]), float(r["score"])) for r in rows], dt
    return [int(r["docid"]) for r in rows], dt


def check_query(orc: Oracle, q: gen.Query, got) -> tuple[str | None, object]:
    ref = orc.answer(q.op, q.words)
    if q.op in RANKED:
        return check_topk(got, ref, TOPK), expected_topk(ref, TOPK)
    return check_docids(got, ref), sorted(ref)


def timed_query(ctx: Ctx, idx, q: gen.Query, orc: Oracle, kind: str, forbidden=None):
    """One checked query; returns its latency in seconds, or None if it failed."""
    try:
        with ctx.tracer.op(kind) as rec:
            if rec is not None:
                rec.layer = layer_of(q)
            got, dt = run_query(ctx, idx, q)
    except Exception as e:  # an engine error is a failed op, not a crash
        ctx.ledger.record(kind, f"{type(e).__name__}: {e}"[:300], query=q.__dict__)
        return None
    c0 = time.perf_counter()
    err, exp = check_query(orc, q, got)
    if err is None and forbidden:
        err = check_none_of([d for d, *_ in got] if q.op in RANKED else got, forbidden)
    ctx.check_s += time.perf_counter() - c0
    ok = ctx.ledger.record(
        kind, err, query=q.__dict__, got=got[:TOPK] if err else None, expected=exp[:TOPK] if err else None
    )
    if ok:
        ctx.latencies.setdefault(q.op, []).append(dt)
    return dt if ok else None


def query_classes(orc: Oracle, corpus: gen.Corpus) -> dict[str, list[str]]:
    from mini_search_engine_spark.analysis import analyze

    raw_of: dict[str, str] = {}
    for w in corpus.vocab:
        toks = analyze(w)
        if len(toks) == 1:
            raw_of.setdefault(toks[0], w)
    absent = [w for w in corpus.absent if all(t not in orc.postings for t in analyze(w))]
    return gen.term_classes(orc.df(), raw_of, orc.n_docs, absent)


# ---------------------------------------------------------------------------
# Shared preparation
# ---------------------------------------------------------------------------


def load_docs(ctx: Ctx, path: str):
    from mini_search_engine_spark.corpus import load_corpus

    with ctx.tracer.span("corpus.load"):
        return load_corpus(ctx.spark.read.parquet(path), num_partitions=CORES)


def corpus_oracle(ctx: Ctx, docs, corpus: gen.Corpus) -> Oracle:
    """Check the loaded corpus row by row (its sha256 column against the
    generated content, dense unique docids) and build the oracle keyed by
    the engine's docids."""
    rows = docs.select("docid", "repo", "path", "sha").collect()
    src = {(r, p): c for r, p, c in zip(corpus.repos, corpus.paths, corpus.contents)}
    err = None
    if sorted(r["docid"] for r in rows) != list(range(len(corpus))):
        err = "docids are not dense and unique"
    elif any((r["repo"], r["path"]) not in src for r in rows):
        err = "loaded rows that are not in the source"
    else:
        err = check_sha([(src[(r["repo"], r["path"])], r["sha"]) for r in rows])
    ctx.ledger.record("load", err)
    return Oracle.of(
        (int(r["docid"]), src[(r["repo"], r["path"])]) for r in rows if (r["repo"], r["path"]) in src
    )


def index_digest(idx) -> dict[str, tuple]:
    """check.postings_digest of a positional index, computed in Spark."""
    from pyspark.sql import functions as F

    z = idx.decoded().postings.select("tid", F.explode(F.arrays_zip("docids", "tfs", "positions")).alias("z"))
    d, tf = F.col("z.docids").cast("long"), F.col("z.tfs").cast("long")
    pos = F.aggregate("z.positions", F.lit(0).cast("long"), lambda acc, p: acc + p + 1)
    sums = z.groupBy("tid").agg(
        F.count("*"), F.sum(d), F.sum(tf), F.sum(d * tf), F.sum(pos * (d + 1))
    )
    names = {r["tid"]: r["term"] for r in idx.termstats.select("tid", "term").collect()}
    return {names.get(r[0], f"tid {r[0]}"): tuple(int(x) for x in r[1:]) for r in sums.collect()}


def make_inputs(ctx: Ctx, n_docs: int) -> tuple[gen.Corpus, str]:
    corpus = gen.make_corpus(ctx.seed, n_docs, VOCAB, MEAN_LEN)
    path = os.path.join(ctx.work, "corpus.parquet")
    gen.write_corpus(corpus, path)
    return corpus, path


@dataclass
class Result:
    e2e: dict
    layers: dict = field(default_factory=dict)
    op_kinds: tuple = ()  # ops whose driver and Spark metrics are reported per op


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------


class Build:
    """load_corpus → build_index(porter, positional, compress) → write_index,
    exchange path then the fused local_blocks path; then read_index without
    warm() and a fixed query set served from each compressed on-disk index.
    Every written index is checked against the oracle: statistics and a
    digest of all postings."""

    def __init__(self, ctx: Ctx) -> None:
        from mini_search_engine_spark.corpus import release_corpus_cache

        self.ctx = ctx
        with ctx.phase("inputs"):
            self.corpus, path = make_inputs(ctx, BUILD_DOCS)
        self.input_bytes = self.corpus.input_bytes()
        setups = []
        with ctx.phase("setup"):
            for i in range(BUILD_SETUP_REPEATS):
                t0 = time.perf_counter()
                docs = load_docs(ctx, path)
                setups.append(time.perf_counter() - t0)
                if i < BUILD_SETUP_REPEATS - 1:
                    release_corpus_cache(docs)
        self.docs = docs
        self.setup_s = median(setups)
        with ctx.phase("oracle"):
            self.orc = corpus_oracle(ctx, docs, self.corpus)
            self.ref_df, self.ref_dl = self.orc.df(), self.orc.doclens()
            self.ref_digest = postings_digest(self.orc.posting_rows())
            classes = query_classes(self.orc, self.corpus)
        self.queries = gen.shaped_queries(
            ctx.seed, 0, classes, self.corpus.phrases, DISK_SHAPES, len(DISK_SHAPES), gen.band_pick
        )
        self.out = {lb: os.path.join(ctx.work, f"index-{'fused' if lb else 'exchange'}") for lb in (False, True)}
        with ctx.phase("warm_up"), ctx.tracer.paused():
            self._warm_up()

    def _warm_up(self) -> None:
        """Build a small corpus once on both paths, so Python workers,
        generated code and the JIT are warm before the timed builds (the
        first exchange build in a JVM takes about twice as long)."""
        from mini_search_engine_spark.index.build import build_index

        ctx = self.ctx
        small = gen.make_corpus(ctx.seed, WARMUP_DOCS, VOCAB, MEAN_LEN)
        path = os.path.join(ctx.work, "warmup.parquet")
        gen.write_corpus(small, path)
        docs = load_docs(ctx, path)
        for lb in (False, True):
            build_index(docs, analyzer="porter", positional=True, compress=True, local_blocks=lb).unpersist()

    def _build(self, lb: bool) -> float | None:
        from mini_search_engine_spark.index.build import build_index, read_index, write_index

        ctx, tr = self.ctx, self.ctx.tracer
        kind = "fused_build" if lb else "build"
        try:
            with tr.op(kind):
                t0 = time.perf_counter()
                with tr.span(f"index.{kind}"):
                    idx = build_index(
                        self.docs, analyzer="porter", positional=True, compress=True, local_blocks=lb
                    )
                with tr.span("index.write"):
                    write_index(idx, self.out[lb])
                dt = time.perf_counter() - t0
        except Exception as e:
            ctx.ledger.record(kind, f"{type(e).__name__}: {e}"[:300])
            return None
        idx.unpersist(corpus=False)
        # check what was written: statistics, then every posting's docid,
        # tf and positions through per-term digests
        try:
            with tr.paused():
                disk = read_index(ctx.spark, self.out[lb])
                df = {r["term"]: int(r["df"]) for r in disk.termstats.collect()}
                dl = {int(r["docid"]): int(r["dl"]) for r in disk.doclens.collect()}
                err = check_build(df, dl, disk.n_docs, disk.avgdl, self.ref_df, self.ref_dl, self.orc.n_docs)
                err = err or check_postings(index_digest(disk), self.ref_digest)
        except Exception as e:  # an index that cannot be read back is wrong
            err = f"reading the written index: {type(e).__name__}: {e}"[:300]
        return dt if ctx.ledger.record(kind, err) else None

    def measure(self, traced: bool) -> Result:
        from pyspark.sql import functions as F

        from mini_search_engine_spark.index.build import read_index, tokenize_docs

        ctx, tr = self.ctx, self.ctx.tracer
        build_s, lat, cycles = [], [], []
        t0 = time.perf_counter()
        # whole build cycles; the fixed query set then runs on the last
        # index of each path
        while another_cycle(t0, cycles, ctx.seconds):
            c0 = time.perf_counter()
            for lb in (False, True):
                dt = self._build(lb)
                if dt is not None:
                    build_s.append(dt)
            cycles.append(time.perf_counter() - c0)
        index_bytes = dir_bytes(self.out[False])
        for lb in (False, True):
            with tr.span("index.read"):
                disk = read_index(ctx.spark, self.out[lb])
            for q in self.queries:
                dt = timed_query(ctx, disk, q, self.orc, "disk_query")
                if dt is not None:
                    lat.append(dt)
        files = len(self.corpus) * len(build_s)
        e2e = {
            "setup_s": self.setup_s,
            "query_p50_ms": median(lat) * 1e3 if lat else float("nan"),
            "throughput_per_s": files / sum(build_s) if build_s else 0.0,
            "bytes_per_input_byte": index_bytes / self.input_bytes,
        }
        layers = {"index.bytes_on_disk": index_bytes}
        if traced:
            # probes: extra work that only the traced run does
            with tr.span("index.compress.decode_scan"):
                disk.decoded().postings.agg(F.sum(F.size("docids")), F.sum(F.size("positions"))).collect()
            with tr.span("analysis.tokenize"):
                tokenize_docs(self.docs, "porter", positional=True).count()
        return Result(e2e, layers, ("build", "fused_build"))


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


class Serve:
    """Warm index (read_index().warm() in setup); one closed-loop client
    runs a seeded mix of BM25, TF-IDF, AND, OR, phrase and keyword.

    The traced run adds an open-loop probe of ``search.serving``: one
    generator thread sends Poisson arrivals of BM25 top-10 into one
    ``Bm25MicroBatcher``, and each answer is timed from its due time. It
    also runs ``IngestProbe``."""

    def __init__(self, ctx: Ctx) -> None:
        from mini_search_engine_spark.corpus import release_corpus_cache
        from mini_search_engine_spark.index.build import build_index, read_index, write_index

        self.ctx = ctx
        tr = ctx.tracer
        with ctx.phase("inputs"):
            corpus, path = make_inputs(ctx, SERVE_DOCS)
            docs = load_docs(ctx, path)
        with ctx.phase("oracle"):
            self.orc = corpus_oracle(ctx, docs, corpus)
        self.path = os.path.join(ctx.work, "index")
        with ctx.phase("index"):
            with tr.span("index.fused_build"):
                built = build_index(docs, analyzer="porter", positional=True, local_blocks=True)
            with tr.span("index.write"):
                write_index(built, self.path)
            built.unpersist()
            release_corpus_cache(docs)
        self.index_bytes = dir_bytes(self.path)
        self.input_bytes = corpus.input_bytes()
        setups = []
        with ctx.phase("setup"):
            for i in range(SERVE_SETUP_REPEATS):
                t0 = time.perf_counter()
                with tr.span("index.read"):
                    idx = read_index(ctx.spark, self.path)
                with tr.span("index.warm"):
                    idx = idx.warm()
                setups.append(time.perf_counter() - t0)
                if i < SERVE_SETUP_REPEATS - 1:
                    idx.unpersist()
        self.idx = idx
        self.setup_s = median(setups)
        classes = query_classes(self.orc, corpus)
        self.queries = gen.shaped_queries(ctx.seed, 1, classes, corpus.phrases, SERVE_SHAPES, 1000)
        self.open_queries = gen.shaped_queries(
            ctx.seed, 2, classes, corpus.phrases, OPEN_SHAPES, round(OPEN_RATE_PER_S * OPEN_PROBE_S)
        )
        self.pos = 0
        self.open_pos = 0
        # the first plans of each query shape generate and compile code, and
        # the JIT keeps speeding the driver up for a few cycles more; a
        # long-lived server pays that once, not per query
        with ctx.phase("warm_queries"):
            n = WARM_CYCLES * len(SERVE_SHAPES)
            for q in gen.shaped_queries(ctx.seed, 9, classes, corpus.phrases, SERVE_SHAPES, n):
                _engine_df(self.idx, q).collect()
        self.idx.df_cache.clear()

    def measure(self, traced: bool) -> Result:
        ctx = self.ctx
        self.idx.df_cache.clear()
        lat, cycles = [], []
        memo_hits = memo_terms = 0
        check0 = ctx.check_s
        t0 = time.perf_counter()
        # whole cycles of SERVE_SHAPES only, so every run has the same op mix
        while another_cycle(t0, cycles, ctx.seconds):
            c0 = time.perf_counter()
            for q in self.queries[self.pos : self.pos + len(SERVE_SHAPES)]:
                if q.op in RANKED:
                    terms = set(Oracle.terms(q.words))
                    memo_terms += len(terms)
                    memo_hits += sum(t in self.idx.df_cache for t in terms)
                dt = timed_query(ctx, self.idx, q, self.orc, "query")
                if dt is not None:
                    lat.append(dt)
            self.pos += len(SERVE_SHAPES)
            cycles.append(time.perf_counter() - c0)
        # correct answers per second of the client loop, the oracle's time taken out
        loop_s = time.perf_counter() - t0 - (ctx.check_s - check0)
        e2e = {
            "setup_s": self.setup_s,
            "query_p50_ms": median(lat) * 1e3 if lat else float("nan"),
            "throughput_per_s": len(lat) / loop_s,
            "bytes_per_input_byte": self.index_bytes / self.input_bytes,
        }
        layers = {
            "index.bytes_on_disk": self.index_bytes,
            "search.ranking.df_memo_hit_share": memo_hits / memo_terms if memo_terms else 0.0,
        }
        if traced:
            layers.update(self._open_loop_probe())
            layers.update(IngestProbe(ctx).run())
        return Result(e2e, layers, ("query",))

    def _open_loop_probe(self, rate: float = OPEN_RATE_PER_S, seconds: float = OPEN_PROBE_S) -> dict:
        from mini_search_engine_spark.search import Bm25MicroBatcher

        ctx = self.ctx
        rng = np.random.default_rng([ctx.seed, 4, self.open_pos])
        n = max(1, round(rate * seconds))
        # a Poisson process conditioned on n arrivals in the window: the
        # arrival times are n sorted uniforms
        due = np.sort(rng.uniform(0.0, seconds, n))
        qs = [self.open_queries[(self.open_pos + i) % len(self.open_queries)] for i in range(n)]
        self.open_pos += n
        sent = [0.0] * n
        done = [0.0] * n
        futs = []
        batcher = Bm25MicroBatcher(self.idx, topk=TOPK, window_ms=15.0)

        def generate():
            for i in range(n):
                wait = t0 + due[i] - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                sent[i] = time.perf_counter()
                f = batcher.submit(qs[i].words)

                def stamp(_f, i=i):
                    done[i] = time.perf_counter()

                f.add_done_callback(stamp)
                futs.append(f)

        gen_thread = threading.Thread(target=generate, name="bench-open-loop")
        try:
            # one untimed batch first: the batched plan's first run generates
            # and compiles code, and a queue would build behind it
            for f in [batcher.submit(q.words) for q in self.open_queries[:OPEN_WARM_BATCH]]:
                f.result(timeout=60)
            batches0, served0 = batcher.batches, batcher.served
            t0 = time.perf_counter()
            gen_thread.start()
            gen_thread.join()
            for q, f in zip(qs, futs):
                try:
                    got = [(int(d), float(s)) for d, s in f.result(timeout=60)]
                except Exception as e:
                    ctx.ledger.record("open_query", f"{type(e).__name__}: {e}"[:300], query=q.__dict__)
                    continue
                err, exp = check_query(self.orc, q, got)
                ctx.ledger.record(
                    "open_query", err, query=q.__dict__, got=got if err else None, expected=exp if err else None
                )
        finally:
            batcher.close()
        # answers per second between the first answer and the last
        self.answered_per_s = (n - 1) / (max(done) - min(done)) if n > 1 and all(done) else 0.0
        return {
            "search.serving.queries_per_job": (batcher.served - served0) / (batcher.batches - batches0),
            "search.serving.submit_to_result_ms": median([(d - s) * 1e3 for d, s in zip(done, sent) if d]),
            "search.serving.due_to_result_ms": median([(d - (t0 + u)) * 1e3 for d, u in zip(done, due) if d]),
            "generator.late_ms": median([(s - (t0 + u)) * 1e3 for s, u in zip(sent, due)]),
        }


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class IngestProbe:
    """Traced-only probe of the streaming layers: a committed initial
    segment, then a seeded stream of upsert_docs batches and delete_docs
    runs with maybe_compact after each commit, and after each commit
    read_segmented_index plus BM25 and AND queries against the live set.

    Every answer is checked against the oracle's live set, and tombstoned
    docids must never come back."""

    def __init__(self, ctx: Ctx) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from mini_search_engine_spark.corpus import load_corpus
        from mini_search_engine_spark.index.build import build_index
        from mini_search_engine_spark.streaming import write_segment

        self.ctx = ctx
        tr = ctx.tracer
        n_total = INGEST_INITIAL + INGEST_COMMITS * INGEST_BATCH
        self.corpus = gen.make_corpus(ctx.seed + 1, n_total, VOCAB, MEAN_LEN)
        self.commits = gen.ingest_stream(ctx.seed, self.corpus, INGEST_INITIAL, INGEST_COMMITS, INGEST_BATCH)
        self.dir = os.path.join(ctx.work, "ingest")
        os.makedirs(self.dir)
        init = os.path.join(self.dir, "initial.parquet")
        texts = self.corpus.contents[:INGEST_INITIAL]
        pq.write_table(pa.table({"doc_id": list(range(INGEST_INITIAL)), "text": texts}), init)
        self.path = os.path.join(self.dir, "index")
        with tr.span("streaming.initial_segment"):
            docs = load_corpus(ctx.spark.read.parquet(init))
            idx = build_index(docs, analyzer="porter", block_span=INGEST_BLOCK_SPAN)
            write_segment(idx, self.path, "base")
        idx.unpersist()
        self.orc = Oracle.of(enumerate(texts))
        classes = query_classes(self.orc, self.corpus)
        self.queries = gen.shaped_queries(
            ctx.seed, 3, classes, self.corpus.phrases, INGEST_SHAPES, INGEST_QUERIES * INGEST_COMMITS
        )
        self.tombstoned: set[int] = set()
        self.seen_files: dict[str, int] = {}
        self._new_bytes()

    def _write_batch(self, i: int, c: gen.Commit) -> str | None:
        """The commit's new documents as a Parquet file (untimed input)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if c.kind != "upsert":
            return None
        p = os.path.join(self.dir, f"batch-{i}.parquet")
        pq.write_table(pa.table({"doc_id": [d for d, _ in c.new], "text": [t for _, t in c.new]}), p)
        return p

    def _new_bytes(self) -> int:
        """Bytes of files under the index that were not there before."""
        new = 0
        for root, _, files in os.walk(self.path):
            for f in files:
                p = os.path.join(root, f)
                if p not in self.seen_files:
                    self.seen_files[p] = os.path.getsize(p)
                    new += self.seen_files[p]
        return new

    def run(self) -> dict:
        from mini_search_engine_spark.corpus import load_corpus
        from mini_search_engine_spark.streaming import (
            delete_docs,
            live_seg_ids,
            maybe_compact,
            read_segmented_index,
            upsert_docs,
        )

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        commit_ms, compact_ms, live_segs = [], [], []
        changed = written = input_bytes = 0
        queries = iter(self.queries)
        for i, c in enumerate(self.commits):
            batch = self._write_batch(i, c)
            try:
                with tr.op("commit"):
                    t0 = time.perf_counter()
                    if c.kind == "upsert":
                        with tr.span("streaming.upsert"):
                            docs = load_corpus(spark.read.parquet(batch))
                            upsert_docs(
                                spark, self.path, docs, c.replaced,
                                analyzer="porter", block_span=INGEST_BLOCK_SPAN,
                            )
                    else:
                        with tr.span("streaming.delete"):
                            delete_docs(spark, self.path, c.replaced)
                    t1 = time.perf_counter()
                    with tr.span("streaming.compact"):
                        ran = maybe_compact(
                            spark, self.path, threshold=COMPACT_THRESHOLD, block_span=INGEST_BLOCK_SPAN
                        )
                    t2 = time.perf_counter()
            except Exception as e:  # the stream cannot go on past a failed commit
                ctx.ledger.record("commit", f"{type(e).__name__}: {e}"[:300])
                break
            ctx.ledger.record("commit", None)
            commit_ms.append((t2 - t0) * 1e3)
            if ran:
                compact_ms.append((t2 - t1) * 1e3)
            for d in c.replaced:
                self.orc.remove(d)
                self.tombstoned.add(d)
            for d, text in c.new:
                self.orc.add(d, text)
            changed += len(c.new) + len(c.replaced)
            input_bytes += sum(len(t.encode("utf-8")) for _, t in c.new)
            written += self._new_bytes()
            live_segs.append(len(live_seg_ids(spark, self.path)))
            with tr.span("streaming.read_segmented"):
                live = read_segmented_index(spark, self.path, analyzer="porter", block_span=INGEST_BLOCK_SPAN)
            if not self._check_stats(live):
                continue
            # checked but not traced: the search layers are measured on
            # the workload's own queries
            with tr.paused():
                for q in (next(queries) for _ in range(INGEST_QUERIES)):
                    timed_query(ctx, live, q, self.orc, "ingest_query", forbidden=self.tombstoned)
        return {
            "streaming.commit_p50_ms": median(commit_ms) if commit_ms else 0.0,
            "streaming.docs_per_s": changed / sum(commit_ms) * 1e3 if commit_ms else 0.0,
            "streaming.bytes_per_input_byte": written / input_bytes if input_bytes else 0.0,
            "streaming.compactions": len(compact_ms),
            "streaming.compact_ms": statistics.fmean(compact_ms) if compact_ms else 0.0,
            "streaming.bytes_written": written,
            "streaming.live_segments_mean": statistics.fmean(live_segs) if live_segs else 0.0,
        }

    def _check_stats(self, live) -> bool:
        err = None
        if live.n_docs != self.orc.n_docs:
            err = f"live n_docs {live.n_docs}, expected {self.orc.n_docs}"
        elif abs(live.avgdl - self.orc.avgdl) > 1e-9 * max(1.0, self.orc.avgdl):
            err = f"live avgdl {live.avgdl!r}, expected {self.orc.avgdl!r}"
        return self.ctx.ledger.record("live_stats", err)


WORKLOADS = {"build": Build, "serve": Serve}
