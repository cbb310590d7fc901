"""Seeded workload generator: corpora in the ``documents`` schema
of the sf0.1 test fixture and the query streams the workloads issue.

Everything derives from one ``numpy.random.default_rng(seed)`` stream per
artifact, so the same seed gives byte-identical parquet files and query
lists, and another seed gives different ones.  The program under test
receives only these files and rows.

Two corpus shapes:

- ``fixture``: the shape of the sf0.1 documents test fixture -- 5,000
  docs of 10-100 tokens drawn uniformly from 30 common words, plus the rare
  word ``dup`` in 5% of the docs (31 terms, ~116k postings).  Every list is
  short (<= 31 blocks), so serving cost is fixed cost.
- ``zipf``: a Zipf(s=1.0) corpus over a 5,000-word vocabulary of seeded
  four-letter words, 4,000 docs of 50-150 tokens (~285k postings, ~6k
  blocks).  Head terms have lists of up to 32 blocks, the tail one block.

Query streams mirror the frozen reference set (``ds2s/queryset.py``): in
every block of 20 queries, 2 carry an out-of-vocabulary term (one of them
all-OOV) and 2 repeat a term; each query has 1-5 terms, half from the head
of the vocabulary and half from the tail.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
REF_BLOCK = 20  # reference-set block: 2 OOV + 2 duplicate-term queries
MAX_TERMS = 5


@dataclass(frozen=True)
class CorpusSpec:
    kind: str  # "fixture" | "zipf"
    n_docs: int
    min_len: int
    max_len: int
    vocab: int = 0  # zipf only
    zipf_s: float = 1.0  # zipf only


FIXTURE = CorpusSpec("fixture", n_docs=5000, min_len=10, max_len=100)
ZIPF = CorpusSpec("zipf", n_docs=4000, min_len=50, max_len=150, vocab=5_000)


@dataclass
class Corpus:
    path: Path  # directory holding documents.parquet
    words: list[str]  # vocabulary by descending frequency rank
    df: dict[str, int]  # document frequency of each word that occurs
    n_postings: int
    sha256: str


def _zipf_words(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct seeded four-letter words (26^4 = 456,976 codes)."""
    codes = rng.choice(26**4, size=n, replace=False)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    digits = np.stack([(codes // 26**p) % 26 for p in (3, 2, 1, 0)], axis=1)
    return ["".join(row) for row in letters[digits]]


def write_corpus(spec: CorpusSpec, seed: int, out_dir: Path) -> Corpus:
    """Generate the corpus for ``seed`` and write ``documents.parquet``."""
    rng = np.random.default_rng([seed, 1])
    lens = rng.integers(spec.min_len, spec.max_len + 1, size=spec.n_docs)
    total = int(lens.sum())
    if spec.kind == "fixture":
        words = list(FIXTURE_WORDS)
        tok = rng.integers(0, len(words), size=total)
        dup_docs = set(rng.choice(spec.n_docs, size=spec.n_docs // 20,
                                  replace=False).tolist())
        words.append("dup")
    else:
        words = _zipf_words(rng, spec.vocab)
        p = 1.0 / np.arange(1, spec.vocab + 1) ** spec.zipf_s
        cdf = np.cumsum(p / p.sum())
        tok = np.minimum(np.searchsorted(cdf, rng.random(total)),
                         spec.vocab - 1)
        dup_docs = set()
    vocab = np.array(words, dtype=object)
    texts, df = [], np.zeros(len(words), dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)])
    for d in range(spec.n_docs):
        ids = tok[starts[d]:starts[d + 1]]
        if d in dup_docs:
            ids = np.insert(ids, int(rng.integers(0, len(ids) + 1)),
                            len(words) - 1)
        df[np.unique(ids)] += 1
        texts.append(" ".join(vocab[ids]))
    table = pa.table({
        "doc_id": pa.array(np.arange(spec.n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i % len(LANGS)] for i in
                          rng.integers(0, len(LANGS), size=spec.n_docs)]),
        "source": pa.array([f"src{d // 1000}" for d in range(spec.n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "documents.parquet"
    pq.write_table(table, path, compression="snappy")
    occurring = {w: int(n) for w, n in zip(words, df) if n > 0}
    return Corpus(
        path=out_dir,
        words=[w for w in words if w in occurring],
        df=occurring,
        n_postings=int(df.sum()),
        sha256=hashlib.sha256(path.read_bytes()).hexdigest(),
    )


def query_stream(corpus: Corpus, seed: int, n: int, salt: int = 2) -> list[list[str]]:
    """``n`` seeded queries over the corpus's vocabulary.

    Head = the most frequent 1% of the vocabulary (at least 8 words), tail
    = the rest.  Per block of 20 queries: one all-OOV query, one query with
    an extra OOV term, two with a repeated term."""
    rng = np.random.default_rng([seed, salt])
    words = corpus.words
    n_head = min(len(words), max(8, len(words) // 100))
    head, tail = words[:n_head], words[n_head:] or words
    out: list[list[str]] = []
    for i in range(n):
        slot = i % REF_BLOCK
        if slot == 0:
            roles = rng.permutation(REF_BLOCK)
        k = int(rng.integers(1, MAX_TERMS + 1))
        q = [
            head[int(rng.integers(len(head)))] if rng.random() < 0.5
            else tail[int(rng.integers(len(tail)))]
            for _ in range(k)
        ]
        role = int(roles[slot])
        oov = f"oov{_letters(rng, 5)}"  # 8 letters: never a vocabulary word
        if role == 0:
            q = [oov]
        elif role == 1:
            q = q[:MAX_TERMS - 1] + [oov]
        elif role in (2, 3):
            q = q[:MAX_TERMS - 1]
            q.insert(int(rng.integers(len(q) + 1)), q[int(rng.integers(len(q)))])
        out.append(q)
    return out


def _letters(rng: np.random.Generator, n: int) -> str:
    return "".join(chr(97 + int(c)) for c in rng.integers(0, 26, size=n))


def query_rows(queries: list[list[str]], first_qid: int = 0) -> list[tuple[int, int, str]]:
    """(qid, ord, term) rows, the input ``ds2s.query.queries_df`` takes."""
    return [(first_qid + i, j, t) for i, q in enumerate(queries)
            for j, t in enumerate(q)]


def check(seed: int, out: Path) -> bool:
    """Same seed -> byte-identical corpus and queries; another seed ->
    different ones.  Run as ``python3 perfbench/gen.py [seed]``."""
    import tempfile

    ok = True
    with tempfile.TemporaryDirectory(dir=out) as tmp:
        for spec in (FIXTURE, ZIPF):
            a = write_corpus(spec, seed, Path(tmp, "a"))
            b = write_corpus(spec, seed, Path(tmp, "b"))
            c = write_corpus(spec, seed + 1, Path(tmp, "c"))
            qa, qb, qc = (query_stream(x, s, 100) for x, s in
                          ((a, seed), (b, seed), (c, seed + 1)))
            same = a.sha256 == b.sha256 and qa == qb
            differ = a.sha256 != c.sha256 and qa != qc
            print(f"{spec.kind}: seed {seed} repeats {same}, "
                  f"seed {seed + 1} differs {differ}")
            ok &= same and differ
    return ok


if __name__ == "__main__":
    import sys

    root = Path(__file__).resolve().parent.parent / ".perfbench_work"
    root.mkdir(exist_ok=True)
    sys.exit(0 if check(int(sys.argv[1]) if len(sys.argv) > 1 else 1, root) else 1)
