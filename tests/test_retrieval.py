"""Retrieval operator tests: RRF fusion and rerank gating reproduce the
reference's QueryServiceSpec goldens; BM25 and cosine top-k match
hand-computed oracles."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from srag_spark.functions.embedding import hash_embed, stable_unit_score
from srag_spark.operators.retrieval import (
    RRF_K,
    apply_metadata_filter,
    bm25_topk,
    cosine_topk,
    filter_reranked,
    retrieve_context,
    rrf_fuse,
    tokenize_lex,
)

SCORE_SCHEMA = "doc_id string, segment_index int, score double"
SCORED_SCHEMA = "doc_id string, segment_index int, text string, score double"
CHUNK_SCHEMA = "doc_id string, segment_index int, text string, metadata map<string,string>"


# --- Q4 RRF fusion (QueryService.scala:137-167) ---
def test_rrf_fusion_hand_computed(spark):
    sem = spark.createDataFrame(
        [("t1", 0, 0.9), ("t2", 0, 0.8), ("t3", 0, 0.7)], SCORE_SCHEMA
    )
    lex = spark.createDataFrame(
        [("t2", 0, 5.0), ("t4", 0, 4.0)], SCORE_SCHEMA
    )
    got = {
        (r["doc_id"], r["segment_index"]): r["fused_score"]
        for r in rrf_fuse(sem, lex).collect()
    }
    exp = {
        ("t1", 0): 1 / (RRF_K + 1),
        ("t2", 0): 1 / (RRF_K + 2) + 1 / (RRF_K + 1),
        ("t3", 0): 1 / (RRF_K + 3),
        ("t4", 0): 1 / (RRF_K + 2),
    }
    assert got.keys() == exp.keys()
    for k in exp:
        assert got[k] == pytest.approx(exp[k])


def test_rrf_empty_both_sides(spark):
    empty = spark.createDataFrame([], SCORE_SCHEMA)
    assert rrf_fuse(empty, empty).count() == 0


# --- Q7 rerank gating golden (QueryServiceSpec.scala:54-106) ---
def _scored(spark, scores: dict[int, float]):
    rows = [("t", i, f"text-{i}", s) for i, s in scores.items()]
    return spark.createDataFrame(rows, SCORED_SCHEMA)


def test_rerank_gate_golden_keeps_top_two(spark):
    scored = _scored(spark, {4: 0.91, 3: 0.85, 2: 0.40, 1: 0.35, 0: 0.20})
    out = filter_reranked(scored, limit=5).collect()
    assert [(r["segment_index"], r["score"], r["text"]) for r in out] == [
        (4, 0.91, "text-4"),
        (3, 0.85, "text-3"),
    ]


def test_rerank_gate_rejects_low_top(spark):
    # top 0.25 < 0.3 → all rejected
    scored = _scored(spark, {0: 0.25, 1: 0.10, 2: 0.05})
    assert filter_reranked(scored, 5).count() == 0


def test_rerank_gate_rejects_small_gap(spark):
    # gap 0.91-0.80 = 0.11 < 0.5 → all rejected
    scored = _scored(spark, {0: 0.91, 1: 0.80})
    assert filter_reranked(scored, 5).count() == 0


# --- Q2 cosine top-k vs numpy oracle ---
def test_cosine_topk_matches_numpy(spark):
    texts = [f"chunk number {i}" for i in range(20)]
    rows = [("d", i, [float(x) for x in hash_embed(t)], None) for i, t in enumerate(texts)]
    emb = spark.createDataFrame(
        rows, "doc_id string, segment_index int, vector array<float>, metadata map<string,string>"
    )
    q = hash_embed("the query")
    got = [
        (r["segment_index"], r["score"])
        for r in cosine_topk(emb, q, k=5).collect()
    ]
    mat = np.stack([np.asarray(hash_embed(t), dtype=np.float32) for t in texts])
    sims = mat @ np.asarray(q, dtype=np.float32)
    exp_idx = sorted(range(20), key=lambda i: (-sims[i], i))[:5]
    assert [i for i, _ in got] == exp_idx
    for (i, s) in got:
        assert s == pytest.approx(float(sims[i]), abs=1e-5)


# --- Q3 BM25 vs hand-computed oracle ---
def bm25_py(docs, query_text, k1=1.2, b=0.75):
    toks = {key: tokenize_lex(text) for key, text in docs.items()}
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    scores = {}
    for term in set(tokenize_lex(query_text)):
        df = sum(1 for t in toks.values() if term in t)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for key, t in toks.items():
            tf = t.count(term)
            if tf == 0:
                continue
            dl = len(t)
            scores[key] = scores.get(key, 0.0) + idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * dl / avgdl)
            )
    return scores


def test_bm25_matches_hand_scored_corpus(spark):
    corpus = {
        ("d1", 0): "the quick brown fox jumps over the lazy dog",
        ("d1", 1): "a quick brown dog outpaces a quick fox",
        ("d2", 0): "lorem ipsum dolor sit amet",
        ("d2", 1): "the dog sleeps, the Fox runs!",
    }
    chunks = spark.createDataFrame(
        [(d, s, t, None) for (d, s), t in corpus.items()], CHUNK_SCHEMA
    )
    for query in (
        "quick fox",
        "quick zebra",     # a term in no chunk (df = 0) scores nothing
        "fox Quick fox",   # a repeated term counts once
    ):
        got = {
            (r["doc_id"], r["segment_index"]): r["score"]
            for r in bm25_topk(chunks, query, k=10).collect()
        }
        exp = bm25_py(corpus, query)
        assert exp and got.keys() == exp.keys(), query
        for k in exp:
            assert got[k] == pytest.approx(exp[k]), query


def test_bm25_regex_tf_edge_cases(spark):
    # r6 pins the alternation-regex tf rewrite against the tokenizer
    # semantics it replaced: a "hit" must be exactly a token equal to
    # the term — substrings of longer tokens don't count, punctuation
    # splits tokens, adjacent repeats all count, terms at string
    # start/end count, case folds, NULL text contributes nothing.
    corpus = {
        ("e1", 0): "fox foxes firefox fox-trot FOX fox",  # 4 'fox' tokens
        ("e2", 0): "fox",                                  # bare term
        ("e3", 0): "prefix.fox,fox!fox?suffix",            # punctuation splits
        ("e4", 0): "no match here",
        ("e5", 0): None,                                   # null text
        ("e6", 0): "quick quickly quick3quick quick",      # boundaries
    }
    chunks = spark.createDataFrame(
        [(d, s, t, None) for (d, s), t in corpus.items()], CHUNK_SCHEMA
    )
    query = "quick fox"
    got = {
        (r["doc_id"], r["segment_index"]): r["score"]
        for r in bm25_topk(chunks, query, k=10).collect()
    }
    # reference mirroring the operator's stats semantics exactly:
    # n_docs counts EVERY chunk row (null text included, as count(1)
    # always did); avgdl averages dl over non-null texts only (NULL dl
    # is skipped by avg, in both the old size(split) and new
    # regexp_count forms)
    toks = {k: tokenize_lex(v) for k, v in corpus.items() if v is not None}
    n = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / len(toks)
    k1, b = 1.2, 0.75
    exp = {}
    for term in set(tokenize_lex(query)):
        df = sum(1 for t in toks.values() if term in t)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for key, t in toks.items():
            tf = t.count(term)
            if tf == 0:
                continue
            dl = len(t)
            exp[key] = exp.get(key, 0.0) + idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * dl / avgdl)
            )
    assert got.keys() == exp.keys()
    assert ("e1", 0) in exp and ("e6", 0) in exp  # 4 and 2 true hits
    for k in exp:
        assert got[k] == pytest.approx(exp[k])


def test_bm25_empty_query_matches_all_at_zero(spark):
    chunks = spark.createDataFrame(
        [("d1", 0, "alpha", None), ("d2", 0, "beta", None)], CHUNK_SCHEMA
    )
    for query in ("", " -- ,, !! "):  # no token at all
        out = bm25_topk(chunks, query, k=10).collect()
        assert sorted((r["doc_id"], r["score"]) for r in out) == [("d1", 0.0), ("d2", 0.0)]


def test_lex_tokenizer():
    assert tokenize_lex("The dog sleeps, the Fox runs!") == [
        "the", "dog", "sleeps", "the", "fox", "runs",
    ]
    assert tokenize_lex("") == []
    assert tokenize_lex("a-b_c 42x") == ["a", "b", "c", "42x"]


# --- metadata filter (conjunctive equality) ---
def test_metadata_filter(spark):
    rows = [
        ("d1", 0, "x", {"tenant": "acme", "lang": "en"}),
        ("d2", 0, "y", {"tenant": "acme"}),
        ("d3", 0, "z", {"tenant": "other", "lang": "en"}),
    ]
    df = spark.createDataFrame(rows, CHUNK_SCHEMA)
    got = apply_metadata_filter(df, {"tenant": "acme", "lang": "en"})
    assert [r["doc_id"] for r in got.collect()] == ["d1"]


# --- Q1 end-to-end retrieval (empty + populated) ---
def test_retrieve_context_empty_stores(spark):
    chunks = spark.createDataFrame([], CHUNK_SCHEMA)
    emb = spark.createDataFrame(
        [], "doc_id string, segment_index int, vector array<float>, metadata map<string,string>"
    )
    assert retrieve_context(chunks, emb, "anything").count() == 0


def test_retrieve_context_end_to_end(spark):
    for id_type in ("string", "bigint"):
        chunks, emb = _corpus_dfs(spark, id_type)
        res = retrieve_context(chunks, emb, "spark documents", limit=3)
        # key columns keep their input types
        assert [(f.name, f.dataType.simpleString()) for f in res.schema.fields] == [
            ("doc_id", id_type), ("segment_index", "int"), ("text", "string"), ("score", "double"),
        ]
        out = res.collect()
        assert 0 < len(out) <= 3
        # scores are the deterministic rerank stub (6 candidates ≥ gate of
        # 5) or fusion fallback; either way text must resolve and order
        # must be desc
        scores = [r["score"] for r in out]
        assert scores == sorted(scores, reverse=True)
        assert all(r["text"] for r in out)
        # a filter no chunk matches leaves both lists, and the result, empty
        assert retrieve_context(chunks, emb, "spark documents", flt={"grp": "none"}).count() == 0


def _corpus_dfs(spark, id_type="string"):
    corpus = {
        ("d1", 0): "spark engine parses documents into spans",
        ("d1", 1): "catalyst optimizes declarative plans",
        ("d2", 0): "arrow batches move columns between workers",
        ("d2", 1): "extraction keeps main content drops boilerplate",
        ("d3", 0): "the quick brown fox",
        ("d3", 1): "pages columns paragraphs sentences",
    }
    if id_type == "bigint":
        corpus = {(int(d[1:]), s): t for (d, s), t in corpus.items()}
    chunks = spark.createDataFrame(
        [(d, s, t, None) for (d, s), t in corpus.items()],
        CHUNK_SCHEMA.replace("doc_id string", f"doc_id {id_type}"),
    )
    emb = spark.createDataFrame(
        [
            (d, s, [float(x) for x in hash_embed(t)], None)
            for (d, s), t in corpus.items()
        ],
        f"doc_id {id_type}, segment_index int, vector array<float>, metadata map<string,string>",
    )
    return chunks, emb


def test_retrieve_context_gates_reject_returns_empty(spark):
    """QueryService.filterRerankedResults returns List.empty when the top
    score is < 0.3 — NOT fusion scores (that fallback is reserved for
    reranker failure).  Low-confidence queries are suppressed."""
    from pyspark.sql import functions as F

    chunks, emb = _corpus_dfs(spark)
    out = retrieve_context(
        chunks, emb, "spark documents", limit=3, rerank_col=F.lit(0.1)
    )
    assert out.count() == 0


def test_retrieve_context_reranker_failure_falls_back_to_fusion(spark):
    """rerankWithFallback's recover path: a reranker that FAILS (not one
    that scores low) yields fusion-score results."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    chunks, emb = _corpus_dfs(spark)

    @udf("double")
    def boom(_):
        raise RuntimeError("reranker down")

    out = retrieve_context(
        chunks, emb, "spark documents", limit=3, rerank_col=boom(F.col("text"))
    ).collect()
    assert 0 < len(out) <= 3
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(0 < s < 2 / 61 + 1e-9 for s in scores)  # RRF-score range


def test_rerank_stub_deterministic():
    a = stable_unit_score("q", "some text")
    assert a == stable_unit_score("q", "some text")
    assert 0.0 <= a <= 1.0
    assert a != stable_unit_score("q2", "some text")


def test_bm25_filter_restricts_results_without_changing_scores(spark):
    """OpenSearch filtered-scoring semantics (VERDICT r4 #3): a metadata
    filter restricts the RESULT set but idf/avgdl/N stay index-wide, so
    each surviving chunk's score is identical with and without the
    filter — and differs from what a filtered-subset idf would give."""
    corpus = {
        ("d1", 0): ("quick fox runs", "a"),
        ("d2", 0): ("quick quick dog", "a"),
        ("d3", 0): ("quick fox fox jumps high", "b"),
        ("d4", 0): ("lorem ipsum dolor", "b"),
    }
    chunks = spark.createDataFrame(
        [(d, s, t, {"grp": g}) for (d, s), (t, g) in corpus.items()],
        CHUNK_SCHEMA,
    )
    unfiltered = {
        (r["doc_id"], r["segment_index"]): r["score"]
        for r in bm25_topk(chunks, "quick fox", k=10).collect()
    }
    filtered = {
        (r["doc_id"], r["segment_index"]): r["score"]
        for r in bm25_topk(chunks, "quick fox", k=10, flt={"grp": "a"}).collect()
    }
    # only group-a chunks survive, with their UNfiltered scores
    assert set(filtered) == {("d1", 0), ("d2", 0)}
    assert bm25_topk(chunks, "quick fox", k=10, flt={"grp": "none"}).collect() == []
    for k, v in filtered.items():
        assert v == pytest.approx(unfiltered[k])
    # sanity: scoring over the filtered 2-doc subcorpus (the rejected
    # semantics) would give different numbers
    sub = {k: v[0] for k, v in corpus.items() if v[1] == "a"}
    subset_scores = bm25_py(sub, "quick fox")
    assert filtered[("d1", 0)] != pytest.approx(subset_scores[("d1", 0)])
