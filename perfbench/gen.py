"""Seeded input generators for the search benchmark.

Everything the engine sees is made here from the ``--seed`` argument:

- ``make_corpus``: a Zipf source-code corpus in the engine's input shape
  (repo, path, commit, lang, content, content_sha256, doc_id). A stated
  share of rows copy another row's content under their own repo/path, as
  forks and vendored files do, so the build's ``aliases`` dedup stage has
  real work.
- ``hot_log`` / ``tail_log``: the two query logs the serving phase replays.
- NRT batches are slices of a second, smaller corpus (``make_corpus`` with
  another repo prefix) that land in the streaming source directory.

The corpus is generated with NumPy in this process (one vectorized Zipf draw
for all tokens) rather than with ``engine.corpus.make_corpus_spark``: that
generator recomputes an O(vocabulary) CDF per document, which at the
benchmark's 24k-term vocabulary costs more than the build it feeds, and it
cannot emit duplicate content. Tokens are lowercase alphanumeric words so
each vocabulary entry is exactly one index term under the engine tokenizer.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from engine.corpus import KEYWORDS, LANG_WEIGHTS, LANGS, content_sha256, doc_id_of

ZIPF_S = 1.1           # term frequency by rank, as in engine.corpus
POPULARITY_S = 0.9     # hot-query popularity by rank
DOC_TOKENS = (50, 400)  # document length range, as in engine.corpus


def vocabulary(size: int) -> np.ndarray:
    """Zipf-ranked vocabulary: real code keywords as the hot head, then
    distinct identifier-like words (``v`` + base-36 rank, no ``_`` or
    capitals, so the tokenizer keeps each as one term)."""
    tail = [f"v{np.base_repr(k, 36).lower()}"
            for k in range(size - len(KEYWORDS))]
    return np.array(KEYWORDS + tail, dtype=object)


def zipf_probs(size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** ZIPF_S
    return p / p.sum()


def canonical(frame: pd.DataFrame) -> dict[int, str]:
    """doc_id -> content over the rows a build keeps: among rows with
    identical content the min doc_id is canonical, the rest alias it."""
    f = frame.sort_values("doc_id").drop_duplicates("content_sha256")
    return dict(zip(f["doc_id"].tolist(), f["content"].tolist()))


@dataclass
class Corpus:
    frame: pd.DataFrame      # engine input rows
    vocab: np.ndarray        # rank -> term
    term_docs: np.ndarray    # rank -> number of canonical docs holding it
    dup_rows: int            # rows whose content copies another row

    @property
    def content_bytes(self) -> int:
        return int(sum(len(c.encode()) for c in self.frame["content"]))

    def canonical(self) -> dict[int, str]:
        return canonical(self.frame)

    def url_to_doc(self) -> dict[str, int]:
        f = self.frame
        urls = f["repo"] + "/" + f["path"] + "@" + f["commit"]
        return dict(zip(urls.tolist(), f["doc_id"].tolist()))


def make_corpus(seed: int, n_docs: int, vocab_size: int, *,
                dup_share: float = 0.0, repo_prefix: str = "org") -> Corpus:
    rng = np.random.default_rng(seed)
    vocab = vocabulary(vocab_size)
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, size=n_docs)
    ids = rng.choice(vocab_size, size=int(lens.sum()), p=zipf_probs(vocab_size))
    words = vocab[ids]
    ends = np.cumsum(lens)
    starts = ends - lens
    contents = []
    for s, e in zip(starts.tolist(), ends.tolist()):
        toks = words[s:e]
        # newline-joined pseudo-statements of 8 tokens
        contents.append("\n".join(" ".join(toks[j:j + 8])
                                  for j in range(0, len(toks), 8)))
    n_dup = int(round(dup_share * n_docs))
    dup_rows = rng.choice(np.arange(1, n_docs), size=n_dup, replace=False) \
        if n_dup else np.empty(0, dtype=np.int64)
    for r in dup_rows.tolist():
        contents[r] = contents[int(rng.integers(0, r))]  # fork of an earlier file
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_WEIGHTS)
    repos, paths, commits, doc_ids = [], [], [], []
    for i in range(n_docs):
        repo = f"{repo_prefix}{i % 7}/repo{i % 23}"
        path = f"src/pkg{i % 13}/mod{i}.{LANGS[langs[i]][:2]}"
        commit = f"{(seed * 1_000_003 + i) & 0xFFFFFFFFFFFF:012x}"
        repos.append(repo)
        paths.append(path)
        commits.append(commit)
        doc_ids.append(doc_id_of(repo, path, commit))
    frame = pd.DataFrame({
        "repo": repos, "path": paths, "commit": commits,
        "lang": [LANGS[k] for k in langs.tolist()], "content": contents})
    frame["content_sha256"] = [content_sha256(c) for c in contents]
    frame["doc_id"] = np.array(doc_ids, dtype=np.int64)
    if frame["doc_id"].nunique() != n_docs:
        raise ValueError("doc_id collision in generated corpus")
    corpus = Corpus(frame, vocab, np.zeros(vocab_size, dtype=np.int64), n_dup)
    # per-term document frequency over the canonical rows (aliases add no
    # postings); every generated word is exactly one term
    rank = {t: r for r, t in enumerate(vocab.tolist())}
    for content in corpus.canonical().values():
        for t in set(content.split()):
            corpus.term_docs[rank[t]] += 1
    return corpus


def hot_log(seed: int, corpus: Corpus, n: int, *, head_terms: int = 300,
            pool: int = 1000) -> list[str]:
    """Zipf-repeated picks (exponent ``POPULARITY_S``) from a pool of
    1-3-term queries over the ``head_terms`` most frequent terms: the
    distinct-term working set is at most ``head_terms``, far below the
    engine's posting-cache budget. The pool is large enough that no few
    queries dominate the log, so its cost varies little with the seed."""
    rng = np.random.default_rng(seed + 17)
    head = corpus.vocab[:head_terms]
    queries = []
    for _ in range(pool):
        width = int(rng.integers(1, 4))
        queries.append(" ".join(rng.choice(head, size=width, replace=False)))
    p = 1.0 / np.arange(1, pool + 1, dtype=np.float64) ** POPULARITY_S
    picks = rng.choice(pool, size=n, p=p / p.sum())
    return [queries[i] for i in picks.tolist()]


def tail_terms(seed: int, corpus: Corpus, *, skip_head: int) -> list[str]:
    """Every present term past the head, in a seeded random order. Each
    term is handed out at most once per run, so a lookup of it misses the
    cache unless the warm-up already fetched it."""
    rng = np.random.default_rng(seed + 29)
    ranks = np.flatnonzero(corpus.term_docs[skip_head:] > 0) + skip_head
    return corpus.vocab[rng.permutation(ranks)].tolist()


def tail_log(seed: int, corpus: Corpus, tail: list[str], *,
             head_terms: int = 30) -> list[str]:
    """One query per tail term: a head term plus a long-tail term."""
    rng = np.random.default_rng(seed + 31)
    heads = rng.choice(corpus.vocab[:head_terms], size=len(tail))
    return [f"{h} {t}" for h, t in zip(heads.tolist(), tail)]
