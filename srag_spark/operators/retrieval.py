"""Retrieval operators Q1–Q11 (SURVEY.md §2.4), Spark-native.

The reference delegates vector search to Qdrant, lexical search to
OpenSearch BM25, and fuses the two ≤200-row lists in memory
(QueryService.scala:95-266).  Here the corpus-sized work is distributed
and the fusion is, as in the reference, driver-side:

* Q2 exact cosine top-k — one scan with a native ``zip_with``/``aggregate``
  dot product (unit-norm vectors ⇒ cosine), no UDF;
* Q3 BM25 — two distributed passes: one global aggregate for the
  index-wide N, avgdl and per-term idf, then one scan that scores each
  row locally from its regex hits and takes the top-k with its text;
* Q4 RRF fusion — on the driver, over the two collected ≤pool (200)
  ranked lists (QueryService.scala:137-167, k=60);
* Q5 candidate-text resolution — lexical text, else ONE keyed fetch
  against the chunks table for the semantic-only candidates
  (QueryService.scala:169-199);
* Q6/Q7 rerank gate + filtering (QueryService.scala:210-266) — one
  rerank call over ≤200 candidate texts, then the score gates;
* Q9 listing filter/sort (MainHandlers.scala:62-90), Q10 top-k, Q11
  distinct — trivially native.

Determinism: the reference relies on Scala's stable sort for ties; Spark
ordering is non-deterministic under ties, so every rank/top-k here adds
the secondary key ``(doc_id, segment_index)`` (SURVEY.md §4.2.3).

Scale notes: a query runs two BM25 passes, one cosine scan and at most
one keyed text fetch — each a plain scan (plus the tiny global
aggregate's single-row exchange), no join and no per-query cache.
Everything after them touches at most 2 × 200 rows, whatever the corpus
size.  ``rrf_fuse``, ``resolve_candidate_texts`` and ``filter_reranked``
keep DataFrame signatures as thin adapters over the same driver-side
code; their outputs are local relations (collecting them is no job).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from srag_spark.functions.embedding import embed_query, rerank_scores
from srag_spark.functions.plan import local_frame

FUSION_POOL_SIZE = 200   # QueryService.scala:65
RERANKER_POOL_SIZE = 200
RRF_K = 60               # QueryService.scala:68
MIN_CANDIDATES_FOR_RERANK = 5
RERANK_TOP_K_RATIO = 0.2
MIN_ACCEPTABLE_GAP = 0.5
MIN_ABSOLUTE_SCORE = 0.3

_KEY = ("doc_id", "segment_index")


# ---------------------------------------------------------------------------
# metadata filter (VectorStoreFilter: conjunctive equality,
# QdrantAdapter.scala:173-181 / OpenSearchAdapter.scala:216-224)
# ---------------------------------------------------------------------------
def apply_metadata_filter(df: DataFrame, flt: dict[str, str] | None) -> DataFrame:
    if not flt:
        return df
    for k, v in flt.items():
        df = df.filter(F.col("metadata").getItem(k) == F.lit(v))
    return df


# ---------------------------------------------------------------------------
# Q2 — exact cosine top-k (replaces the ANN server with an exact scan)
# ---------------------------------------------------------------------------
def cosine_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = FUSION_POOL_SIZE,
    flt: dict[str, str] | None = None,
) -> DataFrame:
    """(doc_id, segment_index, vector[, metadata]) → top-k by cosine.

    Dot product entirely JVM-side: ``aggregate(zip_with(v, q, *), +)``
    (the higher-order fold is the FASTER JVM form — a 64-term unrolled
    sum exceeds the JVM's huge-method JIT limit and runs interpreted,
    measured 6-10× slower; see ``dedup.dot_lit_sql``).  The query
    vector is a literal array — effectively broadcast.  Top-k is a
    global sort-limit (Spark performs it as per-partition top-k +
    driver merge — no full shuffle).
    """
    from srag_spark.operators.dedup import lit_vec

    q = lit_vec(query_vec)  # ONE py4j round trip, not 384 per-element lit()s
    scored = apply_metadata_filter(embeddings, flt).select(
        "doc_id",
        "segment_index",
        F.aggregate(
            F.zip_with("vector", q, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    return scored.orderBy(F.desc("score"), *_KEY).limit(k)


# ---------------------------------------------------------------------------
# Q3 — BM25 lexical top-k, in-engine
# ---------------------------------------------------------------------------
LEX_TOKEN_SPLIT = "[^a-z0-9]+"
_DL_SQL = "CAST(regexp_count(lower(text), '[a-z0-9]+') AS INT)"


def tokenize_lex(text: str) -> list[str]:
    """Frozen lexical analyzer (≈ OpenSearch standard analyzer):
    lowercase, split on non-alphanumeric runs, drop empties.  Python
    twin of the token-run count and regex hits in :func:`bm25_topk`."""
    return [t for t in re.split(LEX_TOKEN_SPLIT, (text or "").lower()) if t]


def bm25_topk(
    chunks: DataFrame,
    query_text: str,
    k: int = FUSION_POOL_SIZE,
    k1: float = 1.2,
    b: float = 0.75,
    flt: dict[str, str] | None = None,
) -> DataFrame:
    """BM25 (Lucene formulation) top-k over the chunks table:
    (doc_id, segment_index, text, score), score desc.

    Two passes, neither with a join, an explode or a grouped shuffle:
      1. one global aggregate over the UNFILTERED chunks returns N,
         avgdl and each query term's idf = ln(1 + (N-df+0.5)/(df+0.5))
         as one row (idf is evaluated JVM-side, so it is bit-identical
         to a relational plan's);
      2. one scan of the filtered chunks scores every row locally from
         its regex hits, with pass 1's values as literals, and keeps
         the top-k rows that hit at least one term, text included.
    Empty query → all chunks at score 0.0 (zero_terms_query: all,
    OpenSearchAdapter.scala:205-235), deterministic order.

    A hit is one regex match per term occurrence: the alternation of the
    query terms with lookarounds pinning each match to a maximal
    [a-z0-9] run, so a hit ≡ a token equal to the term and tf/df/dl are
    value-identical to an exploded-token form (pinned by the q3 oracle
    entries; terms are alnum-only, so the alternation is
    injection-safe).  ``dl`` is the token-run count.

    Filtered-scoring semantics (frozen, = OpenSearch): a metadata filter
    restricts the RESULT set but never the SCORING statistics.  N, avgdl
    and per-term df are computed over the WHOLE corpus — OpenSearch
    scores the ``match`` clause with index-wide stats and puts the
    metadata terms in non-scoring filter context
    (OpenSearchAdapter.scala:205-235 bool.must(match)+bool.filter), so a
    chunk's score is identical with or without a filter.  Pinned by the
    ``q3_bm25_filtered`` oracle entry (VERDICT r4 #3).
    """
    terms = sorted(set(tokenize_lex(query_text)))
    candidates = apply_metadata_filter(chunks, flt)
    if not terms:
        return (
            candidates.select(*_KEY, "text", F.lit(0.0).alias("score"))
            .orderBy(*_KEY)
            .limit(k)
        )
    hits_sql = (
        "regexp_extract_all(lower(text), "
        f"'(?<![a-z0-9])({'|'.join(terms)})(?![a-z0-9])', 1)"
    )
    # pass 1: index-wide statistics, one row
    idf_sql = (
        "ln(1.0D + (count(1) - CAST(count_if(array_contains(_h, '{t}')) AS DOUBLE)"
        " + 0.5D) / (CAST(count_if(array_contains(_h, '{t}')) AS DOUBLE) + 0.5D))"
    )
    stats = (
        chunks.select(F.expr(_DL_SQL).alias("dl"), F.expr(hits_sql).alias("_h"))
        .agg(
            F.avg("dl").alias("avgdl"),
            *[F.expr(idf_sql.format(t=t)).alias(f"idf{i}") for i, t in enumerate(terms)],
        )
        .collect()[0]
    )
    if stats["avgdl"] is None:  # no chunk has text: nothing can hit
        return candidates.select(*_KEY, "text", F.lit(0.0).alias("score")).limit(0)
    # pass 2: per-row score — tf per term from the row's hits, summed in
    # term order from 0.0 like a sum() aggregate over per-term rows; the
    # hits array and the length norm are let-bound (evaluated once per
    # row); no hit → NULL score, which sorts last and is dropped
    idfs = ",".join(f"{stats[f'idf{i}']!r}D" for i in range(len(terms)))
    dl = f"CAST({_DL_SQL} AS DOUBLE)"
    norm = f"(({1.0 - b!r}D + (({dl} * {b!r}D) / {stats['avgdl']!r}D)) * {k1!r}D)"
    score_sql = f"""element_at(transform(
        array(named_struct('h', {hits_sql}, 'n', {norm})),
        s -> CASE WHEN size(s.h) > 0 THEN aggregate(
          zip_with(
            transform(array({",".join(f"'{t}'" for t in terms)}),
                      t -> CAST(size(filter(s.h, x -> x = t)) AS DOUBLE)),
            array({idfs}),
            (tf, idf) -> CASE WHEN tf > 0 THEN (idf * (tf * {k1 + 1.0!r}D)) / (tf + s.n)
                              ELSE 0.0D END),
          0.0D, (acc, x) -> acc + x) END), 1)"""
    return (
        candidates.select(*_KEY, "text", F.expr(score_sql).alias("score"))
        .orderBy(F.desc("score"), *_KEY)
        .limit(k)
        .filter(F.col("score").isNotNull())
    )


# ---------------------------------------------------------------------------
# driver-side fusion core (Q4/Q5/Q7) over ≤pool-row lists
# ---------------------------------------------------------------------------
def _rrf(sem_keys: list, lex_keys: list, rrf_k: int, pool: int) -> list:
    """[(key, fused_score)] by reciprocal rank: rank = position+1 in each
    score-ordered list; fused = Σ 1/(rrf_k + rank); keep > 0; sort desc
    (ties by key); take pool."""
    fused: dict = {}
    for ranked in (sem_keys, lex_keys):
        for rank, key in enumerate(ranked, start=1):
            fused[key] = fused.get(key, 0.0) + 1.0 / (rrf_k + rank)
    out = sorted(((k, s) for k, s in fused.items() if s > 0.0), key=lambda ks: (-ks[1], ks[0]))
    return out[:pool]


def _fetch_texts(chunks: DataFrame, keys: list) -> dict:
    """{key: text} for ``keys`` in ONE scan of ``chunks``, narrowed by
    ``isin`` on both key columns (pushed to the parquet reader)."""
    if not keys:
        return {}
    rows = (
        chunks.filter(
            F.col(_KEY[0]).isin(sorted({k[0] for k in keys}))
            & F.col(_KEY[1]).isin(sorted({k[1] for k in keys}))
        )
        .select(*_KEY, "text")
        .collect()
    )
    want = set(keys)
    return {(r[0], r[1]): r[2] for r in rows if (r[0], r[1]) in want}


def _resolve(fused: list, lex_text: dict, chunks: DataFrame) -> list:
    """[(key, fused_score, text)]: text = lexical hit text if non-empty,
    else chunk-table text; rows with no resolvable text are dropped."""
    fetched = _fetch_texts(chunks, [k for k, _ in fused if not lex_text.get(k)])
    out = []
    for key, score in fused:
        text = lex_text.get(key) or fetched.get(key)
        if text is not None:
            out.append((key, score, text))
    return out


def _gate(scored: list, limit: int) -> list:
    """[(key, text, score)] after the rerank gates: reject ALL if
    top < 0.3 or (top−worst) < 0.5; else keep score ≥ top − 0.2·(top−worst),
    sorted desc, take limit.  A NULL or NaN score carries no ranking and
    is dropped first."""
    scored = [r for r in scored if r[2] is not None and r[2] == r[2]]
    if not scored:
        return []
    top = max(r[2] for r in scored)
    worst = min(r[2] for r in scored)
    if top < MIN_ABSOLUTE_SCORE or top - worst < MIN_ACCEPTABLE_GAP:
        return []
    cut = top - RERANK_TOP_K_RATIO * (top - worst)
    return sorted((r for r in scored if r[2] >= cut), key=lambda r: (-r[2], r[0]))[:limit]


def _schema(df: DataFrame, key_cols, *rest: tuple) -> StructType:
    """``df``'s key fields (their input types) followed by ``rest``."""
    return StructType([df.schema[c] for c in key_cols] + [StructField(*f) for f in rest])


def _ranked_keys(df: DataFrame, key_cols, pool: int) -> list:
    return [
        tuple(r)
        for r in df.orderBy(F.desc("score"), *key_cols).limit(pool).select(*key_cols).collect()
    ]


# ---------------------------------------------------------------------------
# Q4 — RRF rank fusion (QueryService.scala:137-167)
# ---------------------------------------------------------------------------
def rrf_fuse(
    semantic: DataFrame,
    lexical: DataFrame,
    rrf_k: int = RRF_K,
    pool: int = FUSION_POOL_SIZE,
    key_cols: tuple[str, ...] = _KEY,
) -> DataFrame:
    """Fuse two (key..., score) relations by reciprocal rank → (key...,
    fused_score), fused desc.  Each input is sort-limited to ``pool``
    in Spark before it is collected, so the driver-side fusion is
    bounded whatever the caller passes."""
    fused = _rrf(
        _ranked_keys(semantic, key_cols, pool), _ranked_keys(lexical, key_cols, pool), rrf_k, pool
    )
    return local_frame(
        semantic.sparkSession,
        [(*k, s) for k, s in fused],
        _schema(semantic, key_cols, ("fused_score", DoubleType())),
    )


# ---------------------------------------------------------------------------
# Q5 — candidate text resolution (QueryService.scala:169-199)
# ---------------------------------------------------------------------------
def resolve_candidate_texts(
    fused: DataFrame, lexical: DataFrame, chunks: DataFrame
) -> DataFrame:
    """(doc_id, segment_index, fused_score, text): text = lexical hit
    text if non-empty else chunk-table text; rows with no resolvable
    text are dropped.  ``fused`` and ``lexical`` are ≤pool lists."""
    rows = _resolve(
        [(tuple(r[:2]), r[2]) for r in fused.select(*_KEY, "fused_score").collect()],
        {(r[0], r[1]): r[2] for r in lexical.select(*_KEY, "text").collect()},
        chunks,
    )
    return local_frame(
        fused.sparkSession,
        [(*k, s, t) for k, s, t in rows],
        _schema(fused, _KEY, ("fused_score", DoubleType()), ("text", StringType())),
    )


# ---------------------------------------------------------------------------
# Q7 — rerank result filtering (QueryService.scala:238-266)
# ---------------------------------------------------------------------------
def filter_reranked(scored: DataFrame, limit: int) -> DataFrame:
    """(doc_id, segment_index, text, score) after the rerank gates
    (:func:`_gate`) over a ≤pool candidate relation."""
    rows = _gate(
        [(tuple(r[:2]), r[2], r[3]) for r in scored.select(*_KEY, "text", "score").collect()],
        limit,
    )
    return local_frame(
        scored.sparkSession,
        [(*k, t, s) for k, t, s in rows],
        _schema(scored, _KEY, ("text", StringType()), ("score", DoubleType())),
    )


# ---------------------------------------------------------------------------
# Q1 — hybrid retrieval orchestrator (QueryService.retrieveContext)
# ---------------------------------------------------------------------------
def retrieve_context(
    chunks: DataFrame,
    embeddings: DataFrame,
    query_text: str,
    limit: int = 5,
    flt: dict[str, str] | None = None,
    query_vec=None,
    rerank_col=None,
    embed_fn=None,
    rerank_fn=None,
) -> DataFrame:
    """embed query → vector top-200 ∥ BM25 top-200 → RRF → resolve text →
    rerank gate (≥5 candidates) → gated filter.

    Returns (doc_id, segment_index, text, score) as a local relation, key
    columns typed as in ``chunks``.  The two top-200 lists are collected
    and everything after them runs on the driver, as in the reference
    (Q6's candidate count gate included).

    Fallback semantics (QueryService.scala:95-133): fusion-score results
    are returned when there are <5 candidates OR when the reranker FAILS
    (rerankWithFallback's recover path).  When the reranker succeeds and
    the gates reject everything (filterRerankedResults → List.empty on
    topScore < 0.3, gap < 0.5, or an empty post-threshold set), the
    result is EMPTY — low-confidence queries are suppressed, not padded
    with fusion scores.

    ``query_vec`` overrides the query embedding (default: the engine's
    embed function applied to the query text); ``rerank_col`` overrides
    the reranker with a Column scoring expression over the candidate
    rows (doc_id, segment_index, text), evaluated over a local relation
    of the candidates — a deterministic rerank_col makes the whole path
    oracle-checkable cross-engine.

    ``embed_fn`` / ``rerank_fn`` inject REAL models (batch-callable
    contract in functions.embedding): the query is embedded through the
    same ``embed_fn`` that produced the chunk vectors, and the rerank
    stage scores the candidate texts in one ``rerank_fn`` call.
    Defaults are the deterministic stubs, so injection changes no oracle
    entry.
    """
    spark = chunks.sparkSession
    qvec = query_vec if query_vec is not None else embed_query(query_text, embed_fn)
    sem = cosine_topk(embeddings, qvec, FUSION_POOL_SIZE, flt).select(*_KEY).collect()
    lex = bm25_topk(chunks, query_text, FUSION_POOL_SIZE, flt=flt).collect()
    fused = _rrf([tuple(r) for r in sem], [(r[0], r[1]) for r in lex], RRF_K, FUSION_POOL_SIZE)
    cands = _resolve(fused, {(r[0], r[1]): r[2] for r in lex}, chunks)
    schema = _schema(chunks, _KEY, ("text", StringType()), ("score", DoubleType()))
    fusion = [(*k, t, s) for k, s, t in cands[:limit]]
    if len(cands) < MIN_CANDIDATES_FOR_RERANK:
        return local_frame(spark, fusion, schema)
    try:
        if rerank_col is not None:
            cand_schema = _schema(
                chunks, _KEY, ("fused_score", DoubleType()), ("text", StringType())
            )
            rows = (
                local_frame(spark, [(*k, s, t) for k, s, t in cands], cand_schema)
                .select(*_KEY, "text", rerank_col.cast("double").alias("score"))
                .collect()
            )
            scored = [((r[0], r[1]), r[2], r[3]) for r in rows]
        else:
            scores = rerank_scores(query_text, [t for _, _, t in cands], rerank_fn)
            scored = [(k, t, s) for (k, _, t), s in zip(cands, scores)]
    except Exception:  # noqa: BLE001 — reranker failure → fusion fallback
        return local_frame(spark, fusion, schema)
    return local_frame(spark, [(*k, t, s) for k, t, s in _gate(scored, limit)], schema)


# ---------------------------------------------------------------------------
# Q9 — transcript listing filter + sort (MainHandlers.scala:62-90)
# ---------------------------------------------------------------------------
def listing(
    transcripts: DataFrame,
    flt: dict[str, str] | None = None,
    sort_by: str = "created_at",
    metadata_key: str | None = None,
    ascending: bool = False,
) -> DataFrame:
    df = apply_metadata_filter(transcripts, flt)
    key = (
        F.col("metadata").getItem(metadata_key)
        if metadata_key is not None
        else F.col(sort_by)
    )
    key = key.asc() if ascending else key.desc()
    return df.orderBy(key, F.col("doc_id").asc())


# Q10 top-k and Q11 distinct are one-liners at call sites:
#   df.orderBy(...).limit(k)        df.select("doc_id").distinct()
