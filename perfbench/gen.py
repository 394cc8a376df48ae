"""Seeded input generator: code-like corpus, query streams, ingest stream.

Everything is a pure function of ``seed`` (NumPy ``default_rng``), so the
same seed gives byte-identical inputs. Nothing here touches Spark; the
corpus is written to Parquet with pyarrow and the engine reads it like any
other ``(repo, path, commit, lang, content)`` table.

Corpus shape:
* identifiers are drawn from a bounded Zipf law over a seeded vocabulary,
  so the analysed vocabulary has head terms (df > 10% of docs), a torso,
  a long tail (df < 10) and, from a disjoint pool, absent terms;
* a few keywords (``return``, ``import`` …) and English stopwords ride
  along, as in source files with comments;
* multi-word phrases are planted in a fixed share of documents.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

LANGS = ("java", "py", "scala", "go")
KEYWORDS = ("return", "import", "class", "final", "static", "void", "def", "val")
STOPWORDS = ("the", "of", "to", "is", "and", "this", "for", "in")
SEPARATORS = (" ", " ", " ", ". ", "; ", ", ", "\n", "\t")
_ONSETS = ("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "qu", "st", "tr")
_VOWELS = ("a", "e", "i", "o", "u")
_CODAS = ("", "", "n", "r", "x", "k", "m", "l")

ZIPF_S = 1.07
N_PHRASES = 8
PHRASE_DOC_SHARE = 0.03


@dataclass
class Corpus:
    repos: list[str]
    paths: list[str]
    commits: list[str]
    langs: list[str]
    contents: list[str]
    vocab: list[str]  # identifier pool the corpus draws from, by Zipf rank
    absent: list[str]  # identifiers guaranteed never to be drawn
    phrases: list[tuple[str, ...]]

    def __len__(self) -> int:
        return len(self.contents)

    def input_bytes(self) -> int:
        return sum(len(c.encode("utf-8")) for c in self.contents)


def _identifiers(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase identifiers: one or two syllable runs
    joined by ``_``, sometimes with a digit."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        parts = []
        for _ in range(int(rng.integers(1, 3))):
            syl = "".join(
                _ONSETS[rng.integers(len(_ONSETS))]
                + _VOWELS[rng.integers(len(_VOWELS))]
                + _CODAS[rng.integers(len(_CODAS))]
                for _ in range(int(rng.integers(2, 4)))
            )
            parts.append(syl)
        word = "_".join(parts)
        if rng.random() < 0.15:
            word += str(int(rng.integers(10)))
        if word not in seen:
            seen.add(word)
            out.append(word)
    return out


def _zipf_cdf(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return np.cumsum(w) / w.sum()


def _zipf_draw(rng: np.random.Generator, cdf: np.ndarray, size: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size)), len(cdf) - 1)


def make_corpus(seed: int, n_docs: int, vocab_size: int, mean_len: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    words = _identifiers(rng, vocab_size + 200)
    vocab, absent = words[:vocab_size], words[vocab_size:]
    # frequent identifiers are short (Zipf's law of abbreviation); it also
    # keeps bytes per token nearly equal across seeds
    vocab.sort(key=len)
    cdf = _zipf_cdf(vocab_size)
    # phrases: three torso identifiers (Zipf rank 200..2000), so a phrase is
    # selective while each of its words also appears on its own
    phrases = [
        tuple(vocab[int(r)] for r in rng.integers(200, min(2000, vocab_size), size=3))
        for _ in range(N_PHRASES)
    ]
    lens = np.maximum(8, rng.lognormal(np.log(mean_len), 0.5, size=n_docs).astype(int))
    kinds = rng.random(int(lens.sum()))
    ranks = _zipf_draw(rng, cdf, int(lens.sum()))
    kw = rng.integers(len(KEYWORDS), size=int(lens.sum()))
    sw = rng.integers(len(STOPWORDS), size=int(lens.sum()))
    seps = rng.integers(len(SEPARATORS), size=int(lens.sum()))
    plant = rng.random(n_docs) < PHRASE_DOC_SHARE
    which = rng.integers(N_PHRASES, size=n_docs)
    lang_i = rng.integers(len(LANGS), size=n_docs)
    n_repos = max(4, n_docs // 500)
    repo_i = rng.integers(n_repos, size=n_docs)

    repos, paths, commits, langs, contents = [], [], [], [], []
    off = 0
    for d in range(n_docs):
        n = int(lens[d])
        toks = []
        for j in range(off, off + n):
            k = kinds[j]
            if k < 0.08:
                toks.append(KEYWORDS[kw[j]])
            elif k < 0.13:
                toks.append(STOPWORDS[sw[j]])
            else:
                toks.append(vocab[ranks[j]])
            toks.append(SEPARATORS[seps[j]])
        if plant[d]:
            pos = 2 * int(rng.integers(n))
            toks[pos:pos] = [" ".join(phrases[which[d]]), " "]
        off += n
        contents.append("".join(toks).strip())
        repo = f"org{repo_i[d] % 7}/proj{repo_i[d]}"
        lang = LANGS[lang_i[d]]
        repos.append(repo)
        paths.append(f"src/m{d % 17}/File{d}.{lang}")
        commits.append(hashlib.sha1(f"{seed}:{repo}".encode()).hexdigest())
        langs.append(lang)
    return Corpus(repos, paths, commits, langs, contents, vocab, absent, phrases)


def write_corpus(corpus: Corpus, path: str) -> None:
    """Write the corpus as one Parquet file in the input_hint shape."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "repo": corpus.repos,
            "path": corpus.paths,
            "commit": corpus.commits,
            "lang": corpus.langs,
            "content": corpus.contents,
        }
    )
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# Query streams
# ---------------------------------------------------------------------------

def term_classes(df: dict[str, int], raw_of: dict[str, str], n_docs: int, absent: list[str]):
    """Raw query words grouped by the df class of their analysed term:
    head (df > 10% of docs), torso, tail (df < 10) and absent.

    ``df`` maps analysed term → df; ``raw_of`` maps analysed term → one raw
    corpus word that analyses to it. Within each class, words are ordered
    by descending df."""
    head, torso, tail = [], [], []
    for term, d in sorted(df.items(), key=lambda kv: (-kv[1], kv[0])):
        if term not in raw_of:
            continue
        if d > n_docs // 10:
            head.append(raw_of[term])
        elif d < 10:
            tail.append(raw_of[term])
        else:
            torso.append(raw_of[term])
    return {"head": head, "torso": torso, "tail": tail, "absent": list(absent)}


@dataclass
class Query:
    op: str  # bm25 | tfidf | and | or | phrase | keyword
    words: list[str] = field(default_factory=list)


def zipf_pick(rng: np.random.Generator, pool: list[str]) -> str:
    """Zipf over the class by descending df: popular terms repeat."""
    return pool[int(_zipf_draw(rng, _zipf_cdf(len(pool)), 1)[0])]


def band_pick(rng: np.random.Generator, pool: list[str]) -> str:
    """Uniform over the middle fifth of the class by df: the work per
    query is alike across seeds."""
    lo = int(len(pool) * 0.4)
    return pool[int(rng.integers(lo, max(int(len(pool) * 0.6), lo + 1)))]


def shaped_queries(
    seed: int, stream: int, classes: dict[str, list[str]], phrases, shapes, n: int, pick=zipf_pick
) -> list[Query]:
    """``n`` queries cycling through ``shapes``, each ``(op, term classes)``.
    A fixed cycle keeps the op and class mix of every run alike, and the
    seed picks the words. A phrase shape takes a planted phrase, in order
    (``planted``) or reversed (``reversed``, rarely a hit)."""
    rng = np.random.default_rng([seed, 2, stream])
    out = []
    for i in range(n):
        op, cls = shapes[i % len(shapes)]
        if op == "phrase":
            words = list(phrases[int(rng.integers(len(phrases)))])
            if cls == ("reversed",):
                words.reverse()
        else:
            words = [pick(rng, classes[c]) for c in cls]
        out.append(Query(op, words))
    return out


# ---------------------------------------------------------------------------
# Ingest stream
# ---------------------------------------------------------------------------


@dataclass
class Commit:
    kind: str  # upsert | delete
    new: list[tuple[int, str]]  # (docid, content) appended
    replaced: list[int]  # docids tombstoned


def ingest_stream(seed: int, corpus: Corpus, n_initial: int, n_commits: int, batch: int) -> list[Commit]:
    """Commits over a live set that starts as docs ``[0, n_initial)``.

    Each upsert appends ``batch`` docs: about 70% new documents drawn
    from the rest of ``corpus`` and 30% revisions of live documents (new
    content under a fresh docid, old docid tombstoned). Every fifth
    commit is instead a ``delete`` of ``batch // 4`` live documents."""
    rng = np.random.default_rng([seed, 3])
    live = list(range(n_initial))
    next_src = n_initial
    next_id = len(corpus)
    content_of = {d: corpus.contents[d] for d in live}
    commits = []
    for c in range(n_commits):
        if c % 5 == 4:
            gone = sorted(int(x) for x in rng.choice(live, size=batch // 4, replace=False))
            gone_set = set(gone)
            live = [d for d in live if d not in gone_set]
            commits.append(Commit("delete", [], gone))
            continue
        new: list[tuple[int, str]] = []
        n_rev = int(batch * 0.3)
        replaced = sorted(int(x) for x in rng.choice(live, size=n_rev, replace=False))
        for d in replaced:
            text = content_of[d] + f" revision{c} " + corpus.vocab[int(rng.integers(50, 500))]
            new.append((next_id, text))
            content_of[next_id] = text
            next_id += 1
        for _ in range(batch - n_rev):
            src = next_src % len(corpus)
            next_src += 1
            new.append((next_id, corpus.contents[src]))
            content_of[next_id] = corpus.contents[src]
            next_id += 1
        rep = set(replaced)
        live = [d for d in live if d not in rep] + [d for d, _ in new]
        commits.append(Commit("upsert", new, replaced))
    return commits
