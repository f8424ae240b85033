"""Correctness gates. Each returns a list of mismatch descriptions; the run
fails on any entry instead of turning it into a metric."""

from __future__ import annotations

import json
import os

from engine.oracle import Bm25Oracle


def golden(spark, root: str, out_dir: str) -> list[str]:
    """Build the committed fixture corpus and compare every fixture query
    with ``fixtures/topk_golden.json``: doc_ids and float64 scores, exact."""
    from engine.corpus import corpus_to_spark, make_corpus
    from engine.index_build import build_index
    from engine.make_fixtures import FIXTURE_CORPUS_DOCS, FIXTURE_CORPUS_SEED
    from engine.query import SearchEngine

    with open(os.path.join(root, "fixtures", "queries.json")) as f:
        queries = json.load(f)
    with open(os.path.join(root, "fixtures", "topk_golden.json")) as f:
        rows = json.load(f)
    want: dict[int, list] = {}
    for r in rows:
        want.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    pdf = make_corpus(FIXTURE_CORPUS_DOCS, seed=FIXTURE_CORPUS_SEED)
    build_index(spark, corpus_to_spark(spark, pdf), out_dir, resume=False)
    engine = SearchEngine(spark, out_dir)
    bad = []
    for q in queries:
        got = [tuple(r) for r in engine.search(q["query"], k=q["k"],
                                              mode=q["mode"])]
        if got != want.get(q["query_id"], []):
            bad.append(f"golden query {q['query_id']} {q['query']!r}")
    return bad


def payloads(oracle: Bm25Oracle, url_to_doc: dict[str, int],
             answers: list[tuple[str, list]], k: int = 10) -> list[str]:
    """HTTP/service payloads against the oracle: ranked doc_ids and the
    exact float64 ``rank_score`` of every row."""
    bad = []
    for query, body in answers:
        want = [(d, s) for _r, d, s in oracle.topk(query, k)]
        got = [(url_to_doc.get(row["url"]), row["rank_score"]) for row in body]
        if got != want:
            bad.append(f"payload mismatch for {query!r}")
    return bad


def engine_topk(oracle: Bm25Oracle, engine, queries: list[str],
                k: int = 10) -> list[str]:
    bad = []
    for q in queries:
        if engine.search(q, k=k) != oracle.topk(q, k):
            bad.append(f"engine top-k mismatch for {q!r}")
    return bad


def verify(spark, index_dir: str) -> list[str]:
    from engine.verify_index import verify_index
    report = verify_index(spark, index_dir)
    return [] if report["ok"] else [f"verify_index: {report['checks']}"]
