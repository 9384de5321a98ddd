"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All native column expressions (codegen, pushdown, no Python), each
with an exact DuckDB oracle.  The row-local operators are join-free;
:func:`lm_perplexity` is the one corpus-statistic operator here (two
linear passes + a bounded broadcast, like BM25's df pass).  The
language-ID heuristic is a frozen marker-word profile scorer —
deliberately simple and deterministic; a real fastText-class model
would slot in as a pandas UDF with the same output contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from srag_spark.operators.dedup import norm_text_col, shingles_col, words_col

# frozen marker-word profiles (ISO-639-1 → high-frequency function words)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for"),
    "de": ("der", "die", "und", "das", "nicht", "ist", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "que"),
    "es": ("el", "la", "los", "que", "de", "es", "una", "por"),
}

STOPWORDS = ("the", "a", "and", "of", "to", "in")


def language_pred_cols(text_col) -> tuple["F.Column", "F.Column"]:
    """(pred_lang, marker_hits) column expressions over a raw text column
    — per-row, join-free, so composed pipelines can inline the gate into
    an existing scan instead of joining a derived table back.

    The word array is let-bound (``dedup.bind_col``, r6): the argmax
    when-chain references each language's hit count several times, and
    higher-order functions evaluate interpreted WITHOUT codegen
    subexpression elimination — un-bound, every reference re-ran the
    regex normalization + split of the whole text (~30 evaluations per
    row; this dominated the composed curation gate at sf1).  Callers
    that select BOTH columns should prefer
    :func:`language_pred_struct` + field unpacking (one scan/row)."""
    s = language_pred_struct(text_col)
    return s["pred"], s["hits"]


def language_pred_struct(text_col) -> "F.Column":
    """The (pred, hits) marker scan as ONE struct column.

    r6 evaluation rewrite: a marker hit count is "how many normalized
    words are in the marker set"; since normalized words are exactly the
    maximal ``[a-z0-9]+`` runs of ``norm_text_col``, that equals
    ``regexp_count(norm, '\\b(m1|m2|…)\\b')`` — the ``\\b`` anchors
    forbid matches inside longer tokens, and non-overlapping counting
    can't miss adjacent tokens (they are separated by a space).  One
    compiled-regex codegen'd pass per language replaces a per-element
    interpreted lambda filter that measured ~1.2 ms/row; values are
    identical."""
    from srag_spark.operators.dedup import bind_col

    langs = sorted(LANG_MARKERS)

    def _counts(norm):
        # built unconditionally, so each count (and the shared norm)
        # evaluates exactly once per row
        return F.array(
            *[
                F.regexp_count(
                    norm,
                    F.lit(r"\b(?:" + "|".join(LANG_MARKERS[lang]) + r")\b"),
                ).cast("long")
                for lang in langs
            ]
        )

    def _from_hits(harr):
        hits = {lang: F.element_at(harr, i + 1) for i, lang in enumerate(langs)}
        best = None
        for lang in langs:  # deterministic tie order
            h = hits[lang]
            if best is None:
                best = F.struct(h.alias("n"), F.lit(lang).alias("lang"))
            else:
                best = F.when(hits[lang] > best["n"], F.struct(h.alias("n"), F.lit(lang).alias("lang"))).otherwise(best)
        pred = F.when(best["n"] > 0, best["lang"]).otherwise(F.lit("und"))
        return F.struct(
            pred.alias("pred"), best["n"].cast("bigint").alias("hits")
        )

    # the argmax when-chain references every count several times, and
    # conditional branches defeat codegen subexpression elimination —
    # bind the count ARRAY so chain references are cheap element_ats
    return bind_col(bind_col(norm_text_col(text_col), _counts), _from_hits)


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pred_lang, marker_hits): argmax of marker-word hits, ties
    broken by language code order; 'und' (undetermined) when no marker
    matches — the ISO-639-3 convention.

    The (pred, hits) pair is selected as ONE struct column and unpacked
    in a second projection (r6): selecting the two expressions
    separately evaluates the shared marker scan twice per row, and
    CollapseProject keeps multi-referenced non-cheap aliases intact, so
    the two-step select halves the work.  spread_input parallelizes the
    marker scan over an under-partitioned input (no-op at scale)."""
    from srag_spark.operators.dedup import spread_input

    return (
        spread_input(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            language_pred_struct(F.col(text_col)).alias("_s"),
        )
        .select(
            "doc_id",
            F.col("_s.pred").alias("pred_lang"),
            F.col("_s.hits").alias("marker_hits"),
        )
    )


def quality_base_array(raw) -> "F.Column":
    """The five base quality scalars as ONE array<long> column —
    ``[n_words, total_token_len, stopword_count, alnum_chars, chars]``
    — so consumers evaluate the split + regex scans once per row and
    derive every metric with cheap ``element_at`` arithmetic."""
    w = F.array_remove(F.split(raw, r"\s+"), "")
    return F.array(
        F.size(w).cast("long"),
        F.length(F.concat_ws("", w)).cast("long"),
        F.regexp_count(
            raw,
            F.lit(r"(?i)(?:^|\s)(?:" + "|".join(STOPWORDS) + r")(?=\s|$)"),
        ).cast("long"),
        F.length(F.regexp_replace(F.lower(raw), "[^a-z0-9]", "")).cast("long"),
        F.length(raw).cast("long"),
    )


def quality_metric_cols(text_col) -> dict[str, "F.Column"]:
    """Per-row quality-signal column expressions over a raw text column
    (keys: n_words, avg_word_len_r, stop_ratio_r, alnum_ratio_r,
    quality_r) — join-free for pipeline composition."""
    from srag_spark.operators.dedup import bind_col

    raw = text_col
    # r6 evaluation rewrite — no higher-order functions and no repeated
    # heavy subexpressions:
    #   * total token length = length(concat_ws('', words)) — equal to
    #     the old fold of per-token lengths;
    #   * stopword count = one compiled-regex pass: a token matches
    #     lower(t) ∈ STOPWORDS iff the raw text contains the stopword
    #     case-insensitively between whitespace/string boundaries
    #     (tokens are maximal non-whitespace runs; the leading boundary
    #     is consumed, the trailing one is a lookahead so adjacent
    #     stopwords still both count);
    #   * the five base scalars are computed in ONE bound array per
    #     metric (conditional when-branches defeat codegen subexpression
    #     elimination, so un-bound each reference re-split/re-scanned
    #     the text — the previous form measured ~ms/row in the composed
    #     curation gate).
    base = quality_base_array(raw)
    nz = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))  # noqa: E731

    def _metric(build):
        return bind_col(
            base,
            lambda b: build(
                F.element_at(b, 1),  # n_words
                F.element_at(b, 2),  # total token length
                F.element_at(b, 3),  # stopword count
                F.element_at(b, 4),  # alnum chars
                F.element_at(b, 5),  # raw chars
            ),
        )

    def _quality(n_words, _tl, stop, alnum, chars):
        return (
            F.lit(0.4) * F.least(n_words.cast("double") / F.lit(100.0), F.lit(1.0))
            + F.lit(0.3) * F.least(nz(stop, n_words) * F.lit(10.0), F.lit(1.0))
            + F.lit(0.3) * nz(alnum, chars)
        )

    return {
        "n_words": _metric(lambda n, *_: n),
        "avg_word_len_r": F.round(
            _metric(lambda n, tl, *_: nz(tl, n)), 6
        ),
        "stop_ratio_r": F.round(
            _metric(lambda n, _tl, stop, *_: nz(stop, n)), 6
        ),
        "alnum_ratio_r": F.round(
            _metric(lambda _n, _tl, _s, alnum, chars: nz(alnum, chars)), 6
        ),
        "quality_r": F.round(_metric(_quality), 6),
    }


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_words, avg_word_len_r, stop_ratio_r, alnum_ratio_r,
    quality_r) — classic heuristic quality signals plus a composite:

        quality = 0.4·clamp(n_words/100) + 0.3·stop_presence
                + 0.3·alnum_ratio
    """
    from srag_spark.operators.dedup import spread_input

    # two-step select (r6): the base-stat array is computed ONCE per row
    # into a real column, and the five metrics are cheap element_at
    # arithmetic over it — selecting five independent metric columns
    # would evaluate the split + regex scans five times (CollapseProject
    # keeps the multi-referenced non-cheap alias intact)
    base = quality_base_array(F.col(text_col))
    nz = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))  # noqa: E731
    b = lambda i: F.element_at(F.col("_b"), i)  # noqa: E731
    quality = (
        F.lit(0.4) * F.least(b(1).cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * F.least(nz(b(3), b(1)) * F.lit(10.0), F.lit(1.0))
        + F.lit(0.3) * nz(b(4), b(5))
    )
    return (
        spread_input(docs)
        .select(F.col(id_col).alias("doc_id"), base.alias("_b"))
        .select(
            "doc_id",
            b(1).alias("n_words"),
            F.round(nz(b(2), b(1)), 6).alias("avg_word_len_r"),
            F.round(nz(b(3), b(1)), 6).alias("stop_ratio_r"),
            F.round(nz(b(4), b(5)), 6).alias("alnum_ratio_r"),
            F.round(quality, 6).alias("quality_r"),
        )
    )


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(doc_id, n_words, n_ngrams, distinct_ngram_ratio_r, max_word_len,
    digit_ratio_r) — Gopher/C4-class repetition and garbage signals:

    * ``distinct_ngram_ratio_r``: distinct word ``n``-grams over total —
      boilerplate and looping text score low (Gopher drops docs whose
      duplicate-n-gram fraction is high);
    * ``max_word_len``: longest whitespace token — base64 blobs and
      joined-word garbage score high;
    * ``digit_ratio_r``: digit characters over total characters.

    Pure native column expressions; exact DuckDB oracle.  Unlike
    ``shingles_col`` these n-grams are NOT deduplicated before counting —
    the duplicate fraction is the signal."""
    from srag_spark.operators.dedup import bind_col

    # let-bind both the word array and the gram array (r6): the un-bound
    # forms re-tokenized per gram and re-built the gram array per
    # consuming output column
    def _stats(w):
        n_words = F.size(w)

        def _from_grams(grams):
            n_grams = F.size(grams)
            return F.struct(
                n_words.cast("bigint").alias("n_words"),
                n_grams.cast("bigint").alias("n_ngrams"),
                F.round(
                    F.when(
                        n_grams > 0,
                        F.size(F.array_distinct(grams)).cast("double") / n_grams,
                    ).otherwise(F.lit(1.0)),
                    6,
                ).alias("distinct_ngram_ratio_r"),
                F.coalesce(
                    F.array_max(F.transform(w, lambda t: F.length(t))), F.lit(0)
                )
                .cast("bigint")
                .alias("max_word_len"),
            )

        grams = F.when(
            n_words >= n,
            F.transform(
                F.sequence(F.lit(0), n_words - n),
                lambda i: F.array_join(F.slice(w, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return bind_col(grams, _from_grams)

    from srag_spark.operators.dedup import spread_input

    raw = F.col(text_col)
    digits = F.length(F.regexp_replace(raw, "[^0-9]", ""))
    chars = F.length(raw)
    digit_ratio = F.when(chars > 0, digits.cast("double") / chars).otherwise(
        F.lit(0.0)
    )
    # guide §2.5 (no-op at corpus scale)
    return spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        bind_col(words_col(raw), _stats).alias("_s"),
        F.round(digit_ratio, 6).alias("digit_ratio_r"),
    ).select(
        "doc_id",
        F.col("_s.n_words").alias("n_words"),
        F.col("_s.n_ngrams").alias("n_ngrams"),
        F.col("_s.distinct_ngram_ratio_r").alias("distinct_ngram_ratio_r"),
        F.col("_s.max_word_len").alias("max_word_len"),
        "digit_ratio_r",
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_mins: int = 3) -> DataFrame:
    """(doc_id, full_md5, sketch): content fingerprint = md5 of the
    normalized text plus the ``n_mins`` lexicographically smallest shingle
    md5s (a winnowing-style sketch — stable under small edits)."""
    from srag_spark.operators.dedup import spread_input

    sh = shingles_col(F.col(text_col), 3)
    hashed = F.array_sort(F.transform(sh, lambda s: F.md5(s)))
    # guide §2.5: per-row shingle md5 work otherwise serializes on the
    # scan's 1-2 file splits (no-op at corpus scale)
    return spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm_text_col(F.col(text_col))).alias("full_md5"),
        F.array_join(F.slice(hashed, 1, n_mins), "|").alias("sketch"),
    )


def lm_perplexity(
    docs: DataFrame,
    vocab_k: int = 65536,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, cross_entropy_r, ppl_r): CCNet-class unigram
    language-model quality signal — per-doc cross-entropy (bits/token)
    and perplexity under an add-``alpha`` smoothed unigram LM whose
    vocabulary is the corpus's own ``vocab_k`` most frequent lexical
    tokens (count desc, token asc tie-break — the deterministic cutoff
    the DuckDB oracle reproduces).  CCNet ranks documents by LM
    perplexity and keeps the low-perplexity head; this is the same
    signal with the (public) 5-gram KenLM swapped for the corpus-trained
    unigram model this container can build — a real KenLM scorer would
    slot in as a pandas UDF with the same output contract.

    Probabilities: p(tok) = (c_tok + alpha) / (N + alpha*(V+1)) with
    c_tok = 0 for out-of-vocabulary tokens (the +1 virtual OOV type);
    H(doc) = mean(-log2 p) over the doc's tokens; ppl = 2^H.
    Zero-token docs emit n_tokens=0 with NULL entropy/perplexity.

    Scale shape (the canonical two-pass corpus statistic, like BM25's
    df pass): pass 1 is a map-side-combinable token groupBy whose
    result is bounded by VOCABULARY size (not corpus size) and a
    driver top-k (TakeOrdered, never a full sort); pass 2 re-explodes
    the scan and broadcast-joins the ≤``vocab_k``-row vocab — the
    exploded token stream is deliberately recomputed, not persisted
    (at 100 TB the token table dwarfs the input; two linear scans beat
    one materialization).  Only three scalars and the bounded vocab
    ever reach the driver."""
    from srag_spark.operators.dedup import spread_input

    # guide §2.5: both linear token passes below inherit the scan's
    # parallelism; spread an under-partitioned input (no-op at scale)
    toks = spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(words_col(F.col(text_col))).alias("tok"),
    )
    # counts is VOCABULARY-bounded (never corpus-sized), so persisting
    # it is safe at any scale and saves one full token-explode pass —
    # its two consumers (vocab top-k, corpus totals) otherwise each
    # re-run the explode + groupBy (r6)
    from srag_spark.operators.dedup import _persist

    counts = _persist(toks.groupBy("tok").agg(F.count("*").alias("c")), None)
    vocab = counts.orderBy(F.desc("c"), F.asc("tok")).limit(vocab_k)

    totals = counts.agg(
        F.sum("c").alias("n"), F.count("*").alias("_distinct")
    ).collect()[0]
    n_corpus = totals["n"] or 0
    v_size = min(vocab_k, totals["_distinct"])
    denom = float(n_corpus) + alpha * (v_size + 1)

    from pyspark.sql.functions import broadcast

    nll = -F.log2((F.coalesce(F.col("c"), F.lit(0)) + F.lit(alpha)) / F.lit(denom))
    scored = (
        toks.join(broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(nll).alias("h"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.round(F.col("h"), 4).alias("cross_entropy_r"),
            F.round(F.pow(F.lit(2.0), F.col("h")), 3).alias("ppl_r"),
        )
    )


#: C4 line rules (Raffel et al. 2020, "Exploring the Limits of Transfer
#: Learning" §2.2 — public spec): a line survives iff it ends in terminal
#: punctuation, has >= C4_MIN_LINE_WORDS words, and contains none of the
#: C4 blocklist markers; a PAGE survives iff >= C4_MIN_KEPT_LINES lines
#: survive.  Frozen here so the Spark plan and the DuckDB oracle share
#: one spec.
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3
C4_TERMINAL_PUNCT = (".", "!", "?", '"')
C4_BLOCKLIST = ("javascript", "lorem ipsum", "{")


def c4_line_keep_col(line: "F.Column") -> "F.Column":
    """Boolean: does one line survive the C4 line rules?  Pure per-line
    expression, usable inside F.filter over a split-lines array."""
    t = F.trim(line)
    ends_ok = None
    for p in C4_TERMINAL_PUNCT:
        e = t.endswith(p)
        ends_ok = e if ends_ok is None else (ends_ok | e)
    n_words = F.size(F.array_remove(F.split(t, r"\s+"), ""))
    low = F.lower(t)
    blocked = None
    for m in C4_BLOCKLIST:
        b = low.contains(m)
        blocked = b if blocked is None else (blocked | b)
    return ends_ok & (n_words >= C4_MIN_LINE_WORDS) & ~blocked


def c4_line_filter(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, text_kept, n_lines, n_kept, page_kept): C4's line-level
    cleaning — drop lines that don't end in terminal punctuation, are
    shorter than 5 words, or carry boilerplate markers; keep the page
    only if >= 3 lines survive.

    Complements dedup.line_dedup_flags (the CORPUS-wide three-line-span
    dedup): these rules are row-local — native split + higher-order
    filter + array_join, zero shuffles, zero Python — so they compose
    inline into any scan (the ideal 100 TB shape, like pii.scrub_pii)."""
    from srag_spark.operators.dedup import spread_input

    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, c4_line_keep_col)
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    # guide §2.5 (no-op at corpus scale)
    return spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_join(kept, "\n").alias("text_kept"),
        n_lines.cast("int").alias("n_lines"),
        n_kept.cast("int").alias("n_kept"),
        (n_kept >= C4_MIN_KEPT_LINES).alias("page_kept"),
    )


#: Gopher document-level quality rules (Rae et al. 2021, appendix A —
#: public spec).  Defaults are the paper's published thresholds; every
#: bound is a kwarg because real pipelines tune them per corpus.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_BULLETS = ("•", "-", "*")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """(doc_id, n_words, mean_word_len_r, symbol_ratio_r, bullet_frac_r,
    ellipsis_frac_r, alpha_frac_r, n_stopwords, keep): the Gopher
    document-level quality heuristics — word count in [50, 100k], mean
    word length in [3, 10], '#'/ellipsis symbol-to-word ratio <= 0.1,
    <= 90% of lines starting with a bullet, <= 30% of lines ending in
    an ellipsis, >= 80% of words containing an alphabetic character,
    and >= 2 distinct stopwords present.

    Words here are RAW whitespace tokens (punctuation intact — the
    symbol and word-length rules are about surface form, unlike the
    normalized lexer the dedup family uses).  Zero-word docs emit NULL
    ratios and keep=false.  All native split / higher-order-function /
    replace expressions — row-local, zero shuffles, zero Python, exact
    DuckDB twin.  Complements the r2 `quality_score`/`repetition_stats`
    signals (Gopher's REPETITION rules) with the paper's document-shape
    rules."""
    words = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    n_words = F.size(words)
    txt = F.col(text_col)
    # NULL-when-zero denominator: ANSI mode (Spark 4 default) raises on
    # x/0, while x/NULL propagates NULL — zero-word docs fall through to
    # NULL metrics and coalesce(keep, false)
    nz_words = F.when(n_words > 0, n_words)

    sum_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_len = sum_len.cast("double") / nz_words

    hash_cnt = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    ell_cnt = (
        F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = (hash_cnt + ell_cnt).cast("double") / nz_words

    lines = F.split(txt, "\n")
    n_lines = F.size(lines)
    bullet_frac = (
        F.size(F.filter(lines, lambda l: _starts_with_bullet(l))).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(lines, lambda l: F.trim(l).endswith("..."))
        ).cast("double")
        / n_lines
    )

    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / nz_words
    )
    n_stop = F.size(
        F.array_intersect(
            F.transform(words, F.lower),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )

    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_frac <= max_bullet_frac)
        & (ellipsis_frac <= max_ellipsis_frac)
        & (alpha_frac >= min_alpha_frac)
        & (n_stop >= min_stopwords)
    )
    from srag_spark.operators.dedup import spread_input

    # guide §2.5 (no-op at corpus scale)
    return spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("int").alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len_r"),
        F.round(symbol_ratio, 4).alias("symbol_ratio_r"),
        F.round(bullet_frac, 4).alias("bullet_frac_r"),
        F.round(ellipsis_frac, 4).alias("ellipsis_frac_r"),
        F.round(alpha_frac, 4).alias("alpha_frac_r"),
        n_stop.cast("int").alias("n_stopwords"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def ngram_topk(
    docs: DataFrame,
    n: int = 3,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Corpus n-gram heavy-hitter census: the ``k`` most frequent
    normalized word ``n``-grams corpus-wide.

    ``(ngram, n_occurrences, n_docs)`` — every occurrence counts (NOT
    per-doc-distinct shingles: a license block pasted 40× in one doc
    contributes 40), ``n_docs`` is the spread.  The discovery half of
    boilerplate removal: exact-substring dedup (operators/substrings)
    CUTS corpus-repeated spans mechanically; this census tells a
    curator WHAT repeats — navigation chrome, license headers,
    templated disclaimers — so thresholds and allowlists are chosen
    from evidence.  Deterministic ordering: count desc, ngram asc.

    Scale shape: the explode is linear in corpus tokens; the census is
    ONE map-side-combinable groupBy (count + distinct-doc count in the
    same pass); ``min_count`` prunes the singleton long tail — the
    overwhelming mass of the gram relation — before the top-k; the
    top-k itself is ``TakeOrderedAndProject`` (per-partition heap +
    driver merge of k rows), never a global sort.  Docs shorter than
    ``n`` words contribute nothing.  Nothing quadratic, nothing
    driver-side beyond the k result rows.
    """
    from srag_spark.operators.dedup import bind_col, spread_input

    def _grams(w):
        return F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - n),
                lambda i: F.array_join(F.slice(w, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # bind_col: tokenize once per row, not once per gram (r6 — 16× on
    # the gram build); spread_input: a small single-file doc table
    # otherwise serializes the explode on 1-2 scan tasks (no-op at scale)
    g = spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(bind_col(words_col(F.col(text_col)), _grams)).alias("ngram"),
    )
    return (
        g.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_count)
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def pmi_pairs(
    docs: DataFrame,
    k: int = 100,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
    persisted: list | None = None,
) -> DataFrame:
    """Top-``k`` adjacent-word collocations by pointwise mutual
    information: ``(word_a, word_b, n_pair, pmi_r)`` — the corpus's
    statistically-bound word pairs (named entities, technical terms,
    templated phrases), the other half of the boilerplate/phrase
    DISCOVERY story next to :func:`ngram_topk`'s raw-frequency census
    (frequency finds what repeats; PMI finds what co-occurs far above
    chance even when rare).

    ``pmi = ln( p(a,b) / (p(a)·p(b)) )`` with ``p(a,b)`` over adjacent
    bigram positions and ``p(·)`` over unigram positions, both on the
    shared normalized tokenizer (``dedup.words_col`` — the same frozen
    normalization every dedup/census operator uses).  ``min_count``
    floors the bigram count first (PMI's classic failure mode is rare
    pairs saturating the top); ranking is deterministic: pmi (rounded to
    6 before the rank, so the boundary is engine-independent) desc, then
    (word_a, word_b) asc.

    Scale shape: two linear explodes; unigram and bigram counts are each
    ONE map-side-combinable groupBy (keys = vocab / surviving bigrams);
    the corpus totals come from a separate one-row agg of per-doc token
    counts (two driver scalars, no row data); the final joins key on
    single words — vocab-bounded, AQE picks broadcast when the pruned
    bigram side is small; top-k is TakeOrderedAndProject, never a global
    sort.  Nothing quadratic, nothing driver-side beyond 2 scalars + k
    result rows."""
    from srag_spark.operators.dedup import _persist, spread_input, words_col

    # guide §2.5: parallelize the tokenize pass that materializes the
    # shared relation (no-op at corpus scale)
    toks = spread_input(docs).select(words_col(F.col(text_col)).alias("w"))
    if materialize:
        # three consumers (totals, bigram counts, unigram counts) share
        # the tokenized relation — persist it so the regex normalization
        # runs once per corpus, not three times (persisted=[] + release
        # for caller-controlled lifetime)
        toks = _persist(toks, persisted)
    w = F.col("w")
    totals = (
        # size(NULL array) is -1 under non-ANSI semantics — a NULL-text
        # doc must contribute 0 positions, not subtract one
        toks.select(F.greatest(F.size(w), F.lit(0)).alias("n"))
        .agg(
            F.sum("n").alias("n_uni"),
            F.sum(F.greatest(F.col("n") - 1, F.lit(0))).alias("n_big"),
        )
        .first()
    )
    n_uni = float(totals["n_uni"] or 0)
    n_big = float(totals["n_big"] or 0)
    if not n_big:
        schema = "word_a string, word_b string, n_pair bigint, pmi_r double"
        return docs.sparkSession.createDataFrame([], schema)
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.struct(
                F.get(w, i).alias("word_a"), F.get(w, i + 1).alias("word_b")
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<word_a:string,word_b:string>>")
    )
    big_counts = (
        toks.select(F.explode(bigrams).alias("bg"))
        .select("bg.word_a", "bg.word_b")
        .groupBy("word_a", "word_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    uni_counts = (
        toks.select(F.explode(w).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c_w"))
    )
    ca = uni_counts.select(F.col("word").alias("word_a"), F.col("c_w").alias("c_a"))
    cb = uni_counts.select(F.col("word").alias("word_b"), F.col("c_w").alias("c_b"))
    pmi = F.log(
        F.col("n_pair").cast("double")
        * F.lit(n_uni)
        * F.lit(n_uni)
        / (
            F.lit(n_big)
            * F.col("c_a").cast("double")
            * F.col("c_b").cast("double")
        )
    )
    return (
        big_counts.join(ca, "word_a")
        .join(cb, "word_b")
        .select(
            "word_a", "word_b", "n_pair", F.round(pmi, 6).alias("pmi_r")
        )
        .orderBy(F.desc("pmi_r"), F.asc("word_a"), F.asc("word_b"))
        .limit(k)
    )


def _starts_with_bullet(line: "F.Column") -> "F.Column":
    t = F.trim(line)
    out = None
    for b in GOPHER_BULLETS:
        e = t.startswith(b)
        out = e if out is None else (out | e)
    return out


def corpus_profile(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    approx: bool = False,
    rsd: float = 0.02,
) -> DataFrame:
    """Per-group corpus census: ``(group, n_docs, n_tokens, avg_tokens_r,
    min_chars, max_chars, n_distinct)`` — the profiling report a curator
    reads before choosing mixture weights, dedup thresholds, or quality
    cutoffs (what CCNet/RefinedWeb publish as their "corpus statistics"
    tables).  ``n_tokens`` is the whitespace-token total (the P1
    tokenizer's cardinality), ``n_distinct`` the count of distinct
    normalized-text fingerprints inside the group — i.e. the group's
    size after exact dedup, so ``n_docs - n_distinct`` reads directly as
    the exact-duplicate mass.

    Scale shape: one groupBy whose key cardinality is the number of
    groups (languages/sources — tiny); count/sum/min/max are map-side
    combinable.  The distinct count is the one aggregate whose exact
    form is not: Spark plans it as a two-phase expand-and-count over
    (group, md5) — a full shuffle of one fingerprint row per document.
    Correct and never driver-side, but at 100 TB that shuffle IS the
    query, so ``approx=True`` is the scale path: HyperLogLog++
    (``approx_count_distinct`` at relative standard deviation ``rsd``)
    makes the whole census a single map-side-combinable pass — sketches
    merge in the combiner, bytes shuffled drop from one row per doc to
    one bounded sketch per (partition, group).  The approx variant
    renames the column ``n_distinct_approx`` and is pytest error-bounded
    (not DuckDB-oracled: HLL estimates are engine-specific); the exact
    variant is the driver-oracle entry.
    """
    from srag_spark.operators.corpus import token_count_col

    t = F.col(text_col)
    per = docs.select(
        F.col(group_col).alias("group"),
        token_count_col(t).alias("_toks"),
        F.length(t).alias("_chars"),
        F.md5(norm_text_col(t)).alias("_fp"),
    )
    distinct_agg = (
        F.approx_count_distinct("_fp", rsd).cast("long").alias("n_distinct_approx")
        if approx
        else F.countDistinct("_fp").cast("long").alias("n_distinct")
    )
    return (
        per.groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_toks").cast("long").alias("n_tokens"),
            F.round(F.avg("_toks"), 6).alias("avg_tokens_r"),
            F.min("_chars").cast("long").alias("min_chars"),
            F.max("_chars").cast("long").alias("max_chars"),
            distinct_agg,
        )
        .orderBy("group")
    )


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    min_len: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document: ``(doc_id, term, tf,
    score_r)`` — the classic corpus-statistic keyword extractor
    (Salton & Buckley 1988), the per-document complement to the
    corpus-wide ``ngram_topk`` census.  Terms are normalized lexical
    tokens of length >= ``min_len`` with stopwords dropped;
    ``idf = ln((N+1)/(df+1)) + 1`` (smoothed, scikit-learn's
    formulation), ``score = tf * round(idf, 6)`` rounded to 6 — the
    rounding happens BEFORE ranking so the deterministic tie-break
    (score desc, term asc) is engine-independent.

    Scale shape (BM25's df pass, reused): tf is one map-side-combinable
    (doc, term) groupBy over a linear explode; df derives from tf by a
    second combinable groupBy keyed on term; N arrives via a broadcast
    single-row cross join (no driver round-trip in the plan); the df
    join back onto tf shuffles on term (AQE broadcasts it when the
    vocabulary is small); the final top-k is a per-doc-bounded window
    — rank work proportional to each doc's distinct terms, never
    corpus-global.  The tf subplan is deliberately recomputed for the
    df side rather than persisted (lm_perplexity's documented stance:
    at 100 TB the (doc, term) relation dwarfs the input — two linear
    scans beat one materialization; callers that prefer the trade can
    ``.persist()`` the input).  Nothing quadratic, nothing driver-side.
    """
    from pyspark.sql import Window

    from srag_spark.operators.dedup import spread_input

    # guide §2.5 (no-op at corpus scale)
    terms = spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                words_col(F.col(text_col)),
                lambda t: (F.length(t) >= min_len) & ~t.isin(*STOPWORDS),
            )
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n"))
    idf_r = F.round(F.log((F.col("n") + 1) / (F.col("df") + 1)) + 1.0, 6)
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * idf_r, 6).alias("score_r"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_r"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def corpus_length_quantiles(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group token-length quantiles: ``(group, n_docs, p50_r, p90_r,
    p99_r, ...)`` — the distribution tails length cutoffs are chosen
    from (Gopher's min/max-word bounds, C4's short-page drop, packing's
    max_len are all quantile decisions; the census's avg hides the tail
    this reads directly).  Quantiles are linear-interpolated
    (SQL ``percentile`` / DuckDB ``quantile_cont`` — verified to agree
    to double precision), rounded to 6.

    Scale shape: exact ``percentile`` is correct but buffers each
    group's values inside the aggregation buffer — fine for bounded
    groups (languages/sources), a memory hazard when one group holds
    billions of rows.  ``approx=True`` is the scale path:
    ``percentile_approx`` (Greenwald-Khanna sketch at ``accuracy``)
    is map-side combinable with bounded state, making the whole report
    one combiner pass — the same exact-for-oracle / sketch-for-scale
    split as :func:`corpus_profile`.  Approx columns are renamed
    ``*_approx`` and pytest error-bounded, not DuckDB-oracled.
    """
    from srag_spark.operators.corpus import token_count_col

    per = docs.select(
        F.col(group_col).alias("group"),
        token_count_col(F.col(text_col)).alias("_toks"),
    )
    suffix = "_approx" if approx else "_r"
    # column names carry the full fraction ("%g" of q·100, "." → "_"),
    # so p50/p90/p99 stay stable and e.g. q=0.999 names p99_9 instead
    # of colliding with q=1.0's p100
    name = lambda q: "p" + ("%g" % (q * 100)).replace(".", "_")  # noqa: E731
    quants = [
        (
            F.round(
                F.percentile_approx("_toks", F.lit(q), F.lit(accuracy)), 6
            )
            if approx
            else F.round(F.percentile("_toks", F.lit(q)), 6)
        ).alias(f"{name(q)}{suffix}")
        for q in qs
    ]
    return (
        per.groupBy("group")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"), *quants)
        .orderBy("group")
    )



def _idiv(a, b):
    """Exact BIGINT floor division for non-negative operands:
    (a - a % b) / b — the modulo is exact on longs and the remaining
    division is an integer-valued double well below 2^53, so the cast
    back to bigint is exact (a raw double a/b could sit one ulp below
    an integer boundary and floor() would flip)."""
    return ((a - a % b) / b).cast("bigint")


def flesch_cols(text_col) -> dict[str, "F.Column"]:
    """Exact-integer Flesch reading-ease components over a raw text
    column — per-row, join-free (the language_pred_cols convention).

    Frozen spec:
      * ``n_words`` = the words_col count (lowercase-alnum tokens);
      * ``n_sentences`` = the number of ``[.!?]+`` runs in the raw
        text, floored at 1;
      * ``n_syllables`` = per word max(1, number of ``[aeiouy]+``
        vowel groups), summed — the standard vowel-group syllable
        approximation;
      * ``flesch_milli`` = 206835 − (1015·W div S) − (84600·Y div W)
        with W/S/Y the counts above — the classic
        206.835 − 1.015·(W/S) − 84.6·(Y/W) in MILLI-units with each
        ratio floor-divided in exact integer arithmetic, so the score
        is bit-identical across engines and partitionings where the
        float formula could differ in the last place; NULL when the
        text has no words.
    """
    w = words_col(text_col)
    n_words = F.size(w).cast("bigint")
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all(text_col, F.lit(r"([.!?]+)"))).cast(
            "bigint"
        ),
        F.lit(1).cast("bigint"),
    )
    n_syllables = F.aggregate(
        F.transform(
            w,
            lambda t: F.greatest(
                F.size(F.regexp_extract_all(t, F.lit(r"([aeiouy]+)"))),
                F.lit(1),
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    flesch_milli = F.when(
        n_words > 0,
        F.lit(206835).cast("bigint")
        - _idiv(F.lit(1015).cast("bigint") * n_words, n_sentences)
        - _idiv(F.lit(84600).cast("bigint") * n_syllables, n_words),
    )
    return {
        "n_words": n_words,
        "n_sentences": n_sentences,
        "n_syllables": n_syllables,
        "flesch_milli": flesch_milli,
    }


def readability(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_words, n_sentences, n_syllables, flesch_milli) — the
    :func:`flesch_cols` components as a derived table.  Row-local,
    zero shuffles; compose the columns directly via flesch_cols to
    inline the gate into an existing scan."""
    from srag_spark.operators.dedup import spread_input

    cols = flesch_cols(F.col(text_col))
    # guide §2.5 (no-op at corpus scale)
    return spread_input(docs).select(
        F.col(id_col), *[c.alias(n) for n, c in cols.items()]
    )
