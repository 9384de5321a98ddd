"""Independent references for the correctness gates.

Each gate compares the program's output with a result computed without
the program's Spark plans:

* extraction: the pure-Python golden parser (``srag_spark.golden``);
* retrieval: a numpy twin of the hybrid query path, computed over the
  engine snapshot the queries read;
* curation: the frozen ``corpus_build`` oracle SQL, run in DuckDB.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
from decimal import Decimal

import numpy as np

from srag_spark import golden
from srag_spark.functions.embedding import hash_embed, stable_unit_score

# ---------------------------------------------------------------------------
# extraction / ingest
# ---------------------------------------------------------------------------


def golden_spans(spans: list[dict]) -> list[tuple]:
    """Ordered (kind, text, media_ref) of one document."""
    return golden.extract_document(spans)[0]


def golden_words(spans: list[dict]) -> list[str]:
    """Transcript word texts: the non-media extracted spans, in order."""
    return [t for _, t, _ in golden_spans(spans) if t is not None]


def golden_chunk_count(spans: list[dict]) -> int:
    text = " ".join(golden_words(spans))
    return sum(1 for c in golden.recursive_chunk(text, 1000, 200) if len(c) > 0)


def check_spans(flat_rows, expected: dict[str, list[tuple]]) -> list[str]:
    """Compare flat extracted span rows (doc_id, seq, kind, text,
    media_ref) with the golden sequences.  Returns error strings."""
    got: dict[str, list] = {}
    for r in flat_rows:
        got.setdefault(r[0], []).append((r[1], r[2], r[3], r[4]))
    errors = []
    for doc_id, want in expected.items():
        rows = sorted(got.pop(doc_id, []))
        if [r[0] for r in rows] != list(range(len(rows))):
            errors.append(f"{doc_id}: seq is not 0..n-1 (duplicate or missing span)")
        if [r[1:] for r in rows] != want:
            errors.append(f"{doc_id}: spans differ from golden ({len(rows)} vs {len(want)})")
    for doc_id in got:
        errors.append(f"{doc_id}: unexpected document in output")
    return errors


# ---------------------------------------------------------------------------
# retrieval: numpy twin of SragEngine.query (operators/retrieval.py)
# ---------------------------------------------------------------------------
POOL, RRF_K, MIN_RERANK = 200, 60, 5
_LEX = re.compile("[^a-z0-9]+")


class RetrievalReference:
    """Hybrid retrieval over pandas copies of the pinned chunks and
    embeddings tables: exact cosine top-200 and BM25 top-200 (index-wide
    statistics, filter on results only), reciprocal-rank fusion, text
    resolution, and the rerank gates with the stub cross-encoder."""

    def __init__(self, chunks, embeddings):
        self.keys = list(zip(chunks["doc_id"], chunks["segment_index"]))
        self.text = dict(zip(self.keys, chunks["text"]))
        self.meta = dict(zip(self.keys, chunks["metadata"]))
        self.tokens = {k: [t for t in _LEX.split((v or "").lower()) if t] for k, v in self.text.items()}
        ekeys = list(zip(embeddings["doc_id"], embeddings["segment_index"]))
        self.ekeys = ekeys
        self.emeta = list(embeddings["metadata"])
        self.vectors = np.stack(
            [np.asarray(v, dtype=np.float32) for v in embeddings["vector"]]
        ).astype(np.float64)

    @staticmethod
    def _match(meta, flt) -> bool:
        meta = dict(meta or {})
        return all(meta.get(k) == v for k, v in (flt or {}).items())

    def _cosine(self, query: str, flt):
        q = hash_embed(query).astype(np.float64)
        # sequential left fold, like the JVM aggregate(zip_with(...))
        scores = np.cumsum(self.vectors * q, axis=1)[:, -1]
        cand = [
            (-s, k) for s, k, m in zip(scores, self.ekeys, self.emeta)
            if self._match(m, flt)
        ]
        return [(k, -s) for s, k in sorted(cand)[:POOL]]

    def _bm25(self, query: str, flt):
        terms = sorted(set(t for t in _LEX.split(query.lower()) if t))
        n_docs = len(self.keys)
        avgdl = sum(len(t) for t in self.tokens.values()) / n_docs
        tf = {k: {t: toks.count(t) for t in terms if t in toks} for k, toks in self.tokens.items()}
        df = {t: sum(1 for v in tf.values() if t in v) for t in terms}
        cand = []
        for k, tv in tf.items():
            if not tv or not self._match(self.meta[k], flt):
                continue
            dl = len(self.tokens[k])
            score = 0.0
            for t, f in tv.items():
                idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                score += idf * (f * 2.2) / (f + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
            cand.append((-score, k))
        return [(k, -s) for s, k in sorted(cand)[:POOL]]

    def query(self, query: str, limit: int = 5, flt=None) -> list[tuple]:
        sem = self._cosine(query, flt)
        lex = self._bm25(query, flt)
        fused = {}
        for ranked in (sem, lex):
            for r, (k, _) in enumerate(ranked, start=1):
                fused[k] = fused.get(k, 0.0) + 1.0 / (RRF_K + r)
        top = sorted(((-s, k) for k, s in fused.items() if s > 0))[:POOL]
        cand = [(k, -s, self.text[k]) for s, k in top if self.text.get(k) is not None]
        if len(cand) < MIN_RERANK:
            out = sorted((-s, k, t) for k, s, t in cand)[:limit]
            return [(k[0], k[1], t, -s) for s, k, t in out]
        scored = [(k, stable_unit_score(query, t), t) for k, _, t in cand]
        top_s = max(s for _, s, _ in scored)
        worst = min(s for _, s, _ in scored)
        if top_s < 0.3 or top_s - worst < 0.5:
            return []
        keep = sorted(
            (-s, k, t) for k, s, t in scored if s >= top_s - 0.2 * (top_s - worst)
        )[:limit]
        return [(k[0], k[1], t, -s) for s, k, t in keep]


def same_results(got: list[tuple], want: list[tuple]) -> bool:
    """Equal (doc_id, segment_index, text) sequences and scores equal to
    1e-9 (summation order inside Spark aggregates may differ in the last
    bits)."""
    if len(got) != len(want):
        return False
    return all(
        g[:3] == w[:3] and abs(g[3] - w[3]) <= 1e-9 * max(1.0, abs(w[3]))
        for g, w in zip(got, want)
    )


# ---------------------------------------------------------------------------
# curation: the frozen corpus_build oracle in DuckDB
# ---------------------------------------------------------------------------


def normalize_rows(rows) -> list[tuple]:
    def norm(v):
        if isinstance(v, Decimal):
            v = float(v)
        return round(v, 9) if isinstance(v, float) else v

    return sorted(tuple(norm(v) for v in r) for r in rows)


def corpus_build_oracle(docs_dir: str, cache_dir: str) -> list[tuple]:
    """Rows of ``oracle_sql()["corpus_build"]`` over ``docs_dir``, cached
    per input (keyed by the input file's and the SQL text's hashes).

    The SQL text is used unchanged.  DuckDB's filter-pushdown optimizer
    is switched off for the connection: on this CTE chain it spends
    ~30 s planning, independent of input size, and the result is the
    same with it off."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["corpus_build"]
    path = os.path.join(docs_dir, "documents.parquet")
    with open(path, "rb") as f:
        key = hashlib.sha256(f.read() + sql.encode()).hexdigest()[:24]
    cached = os.path.join(cache_dir, f"corpus_build-{key}.json")
    if os.path.exists(cached):
        with open(cached) as f:
            return [tuple(r) for r in json.load(f)]
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        con.execute("SET disabled_optimizers = 'filter_pushdown'")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
    finally:
        con.close()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = normalize_rows(tuple(r[i] for i in order) for r in rows)
    os.makedirs(cache_dir, exist_ok=True)
    with open(cached + ".tmp", "w") as f:
        json.dump(rows, f)
    os.replace(cached + ".tmp", cached)
    return rows


def spark_rows_sorted_cols(df_rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return normalize_rows(tuple(r[i] for i in order) for r in df_rows)
