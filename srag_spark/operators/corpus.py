"""Training-corpus composition operators: sequence packing + mixture
sampling — the step between a curated corpus and a training run.

Beyond the reference's own surface (its pipeline ends at indexed
retrieval); these are the standard operations a 100 TB pretraining
pipeline applies AFTER curation (SURVEY §8 training-data additions):

* :func:`pack_sequences` — GPT-style contiguous packing: conceptually
  concatenate every document's tokens in a fixed global order and cut
  the stream into fixed-size training windows; emit which window(s) each
  document lands in and at which positions.  The core is a GLOBAL
  running token sum — the naive Spark form is a global window
  (``Window.orderBy(...)`` with no partition key), which moves the whole
  corpus into ONE task.  Implemented instead as the classic distributed
  prefix-sum: range-repartition on the order key, per-partition window
  cumsum, plus a per-partition offset computed from the P partition
  totals (P numbers to the driver — never row data).

* :func:`sample_mixture` — deterministic per-group hash sampling for
  training mixtures ("keep 30% of web, 100% of books"): a doc survives
  iff the first 8 hex chars of ``md5(doc_id:seed)`` fall below the
  group's rate threshold.  Pure row-local native expressions — no
  shuffle, no RNG state, identical verdicts at any parallelism and in
  the DuckDB oracle (md5 is engine-independent; thresholds compare as
  hex strings so no 64-bit hash algorithm needs to match).  Survivors
  carry ``weight = 1/rate`` for unbiased loss/statistics reweighting.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HEX_SPACE = 16 ** 8


def _rate_threshold_hex(rate: float) -> str:
    """8-hex-digit string threshold st. P[substr(md5,1,8) < thr] = rate.
    'z' > 'f' lexicographically, so 'zzzzzzzz' means keep-all (a 9-digit
    '100000000' would compare LOWER than most 8-digit hashes).  Rates
    within float rounding of 1.0 (< 1.0 but round(rate*16^8) == 16^8)
    are clamped to 16^8 − 1 for the same reason — without the clamp the
    formatted value is the 9-char '100000000' and the keep rate would
    COLLAPSE to ~6% instead of ~100% (ADVICE r4)."""
    if rate >= 1.0:
        return "zzzzzzzz"
    v = min(max(int(round(rate * _HEX_SPACE)), 0), _HEX_SPACE - 1)
    return format(v, "08x")


def token_count_col(text_col) -> "F.Column":
    """Whitespace token count, empties dropped — the P1 tokenizer's
    cardinality (golden.tokenize_ws), as a native column."""
    return F.size(F.array_remove(F.split(text_col, r"\s+"), ""))


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int | None = None,
    persisted: list | None = None,
    count_col: str | None = None,
) -> DataFrame:
    """Assign documents to fixed-``budget`` training sequences.

    Spec (frozen, deterministic): order docs by ``id_col`` ascending;
    concatenate their whitespace tokens into one global stream; window w
    covers token positions [w*budget, (w+1)*budget).  For every window a
    doc overlaps, emit one row:

        (doc_id, n_tokens, pack_id, pack_start, pack_end)

    with pack_start/pack_end the doc's [start, end) token positions
    WITHIN that window.  Docs longer than ``budget`` straddle several
    windows (the concat-then-split pretraining semantics); zero-token
    docs are dropped.

    Scale shape: ONE range shuffle on the order key + per-partition
    window cumsum; the cross-partition carry is P partition totals
    collected to the driver and rebroadcast as a literal map — the
    standard two-phase parallel prefix sum.  The result is independent
    of the partition boundaries (the cumsum is defined by the global
    order alone), so any partition count gives identical output.

    Persist lifecycle (same contract as operators/dedup.py): the
    range-partitioned token table feeds both the totals collect and the
    output plan, so it is persisted.  With ``persisted=None`` (the
    interactive default) the result is materialized eagerly and the
    parent released before returning — do NOT use that at corpus scale
    (it pins every output row executor-side).  At scale pass
    ``persisted=[]``, consume the returned LAZY frame, then
    ``dedup.release(persisted)``.
    """
    spark = docs.sparkSession
    P = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # count_col packs in a caller-supplied token space (e.g. a trained
    # subword tokenizer's bpe_token_count) instead of whitespace words —
    # the window arithmetic is denomination-agnostic
    cnt = (
        F.col(count_col) if count_col else token_count_col(F.col(text_col))
    )
    from srag_spark.operators.dedup import spread_input

    # guide §2.5: the token counting below runs twice over the input
    # (range-boundary sampling + the shuffle's map pass) — spread an
    # under-partitioned scan first so neither pass serializes (no-op on
    # composed inputs and at corpus scale)
    toks = spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        cnt.cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    # range partitioning puts partition i's ids strictly below partition
    # i+1's, so per-partition cumsums + ordered offsets compose to the
    # global cumsum.  Persist: the partition totals AND the main plan
    # both consume this frame, and the sampled range boundaries must be
    # the same in both executions.
    ordered = (
        toks.repartitionByRange(P, "doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if persisted is not None:
        persisted.append(ordered)
    try:
        totals = {
            r["_pid"]: r["t"]
            for r in ordered.groupBy("_pid").agg(F.sum("n_tokens").alias("t")).collect()
        }
        offsets: dict[int, int] = {}
        acc = 0
        for pid in sorted(totals):
            offsets[pid] = acc
            acc += totals[pid]
        if offsets:
            off_map = F.create_map(
                *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
            )
        else:
            # empty input: an argless create_map() is map<void,void> and
            # cannot be indexed by the int partition id — give it the
            # real type (no rows will look anything up)
            off_map = F.create_map().cast("map<int,bigint>")
        w = (
            Window.partitionBy("_pid")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = ordered.select(
            "doc_id",
            "n_tokens",
            (off_map[F.col("_pid")] + F.sum("n_tokens").over(w)).alias("cum_end"),
        ).withColumn("cum_start", F.col("cum_end") - F.col("n_tokens"))
        b = F.lit(int(budget)).cast("long")
        packed = cum.select(
            "doc_id",
            "n_tokens",
            "cum_start",
            "cum_end",
            F.explode(
                F.sequence(
                    F.expr(f"cum_start div {int(budget)}"),
                    F.expr(f"(cum_end - 1) div {int(budget)}"),
                )
            ).alias("pack_id"),
        ).select(
            "doc_id",
            "n_tokens",
            "pack_id",
            (F.greatest("cum_start", F.col("pack_id") * b) - F.col("pack_id") * b)
            .alias("pack_start"),
            (F.least("cum_end", (F.col("pack_id") + 1) * b) - F.col("pack_id") * b)
            .alias("pack_end"),
        )
        if persisted is not None:
            return packed  # lazy; caller releases via dedup.release()
        # interactive mode: materialize before releasing the parent —
        # the rows are tiny (5 numbers/doc-window) at test/driver scale
        return packed.localCheckpoint(eager=True)
    finally:
        if persisted is None:
            ordered.unpersist(blocking=False)


def materialize_packs(
    docs: DataFrame,
    budget: int,
    tokens_col: str = "bpe_tokens",
    id_col: str = "doc_id",
    n_partitions: int | None = None,
    persisted: list | None = None,
    with_spans: bool = False,
) -> DataFrame:
    """Materialize the actual fixed-``budget`` training sequences from a
    tokenized corpus — the last mile :func:`pack_sequences` stops short
    of: where ``pack_sequences`` returns each document's WINDOW
    ASSIGNMENTS, this returns the windows themselves::

        (pack_id, tokens: array<string>, n_tokens)

    with ``tokens`` the contiguous token stream of window
    ``[pack_id*budget, (pack_id+1)*budget)`` in doc_id order — every
    pack exactly ``budget`` tokens except the final one.  This is the
    Megatron-style "tokenize, concat, cut" dataset build; feed the
    output to :func:`assign_shards` / :func:`write_shards` (keyed on
    ``pack_id``) for dataloader serving.

    ``with_spans=True`` additionally emits ``doc_spans:
    array<struct<doc_id, start, end>>`` — each document's [start, end)
    token range WITHIN the pack, in stream order.  Trainers need these
    boundaries to reset attention masks and loss-mask across document
    joins in a packed sequence; they come free from the same slice
    structs the reassembly already collects (no extra shuffle or scan),
    and they agree with :func:`pack_sequences`' (pack_start, pack_end)
    assignment rows by construction.

    Input must already carry the token arrays (``tokens_col``, e.g.
    :func:`~srag_spark.operators.bpe.apply_bpe`'s ``bpe_tokens``); the
    window arithmetic runs in that token space via
    ``pack_sequences(count_col=...)``.

    Scale shape: the assignment cost is pack_sequences' distributed
    prefix sum (one range shuffle, P driver carries); materialization
    adds ONE doc_id equi-join (assignment rows back onto the token
    arrays — co-keyed, AQE-sized), a row-local ``slice`` per
    (doc, window) overlap, and ONE groupBy on pack_id whose per-group
    payload is bounded by ``budget`` tokens.  Total bytes moved ≈ the
    corpus token mass — the irreducible cost of writing a tokenized
    dataset; nothing quadratic, no global sort (within-pack order is
    reassembled from each slice's ``pack_start``, not a sort over
    tokens).  The per-doc window start offsets are a cumsum over that
    doc's OWN window rows (a handful per doc), never over the corpus.

    Persist lifecycle (the :mod:`operators.dedup` contract): the token
    frame feeds both the count pass and the join-back, so it is
    persisted (re-running an upstream tokenizer UDF twice would double
    the dominant cost).  ``persisted=None`` materializes the result
    eagerly and releases parents before returning — test/driver scale
    only; at corpus scale pass ``persisted=[]``, consume the lazy
    frame, then ``dedup.release(persisted)``.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("_toks")
    ).withColumn("_n", F.size("_toks").cast("long"))
    toks = toks.persist()
    if persisted is not None:
        persisted.append(toks)
    try:
        packed = pack_sequences(
            toks,
            budget,
            id_col="doc_id",
            count_col="_n",
            n_partitions=n_partitions,
            persisted=persisted,
        )
        w = (
            Window.partitionBy("doc_id")
            .orderBy("pack_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        spans = packed.withColumn(
            "_len", F.col("pack_end") - F.col("pack_start")
        ).withColumn(
            "_ds",
            F.coalesce(F.sum("_len").over(w), F.lit(0).cast("long")),
        )
        sliced = spans.join(toks.select("doc_id", "_toks"), "doc_id").select(
            "doc_id",
            "pack_id",
            "pack_start",
            F.slice(
                "_toks",
                (F.col("_ds") + 1).cast("int"),
                F.col("_len").cast("int"),
            ).alias("_slice"),
        )
        cols = ["pack_id", F.flatten(
            F.transform("_p", lambda s: s["_slice"])
        ).alias("tokens")]
        if with_spans:
            cols.append(
                F.transform(
                    "_p",
                    lambda s: F.struct(
                        s["doc_id"].alias("doc_id"),
                        s["pack_start"].alias("start"),
                        (s["pack_start"] + F.size(s["_slice"]))
                        .cast("long")
                        .alias("end"),
                    ),
                ).alias("doc_spans")
            )
        out = (
            sliced.groupBy("pack_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pack_start", "doc_id", "_slice"))
                ).alias("_p")
            )
            .select(*cols)
            .withColumn("n_tokens", F.size("tokens").cast("long"))
        )
        if persisted is not None:
            return out  # lazy; caller releases via dedup.release()
        out = out.persist()
        out.count()
        return out
    finally:
        if persisted is None:
            toks.unpersist(blocking=False)


def pack_interleaved(
    docs: DataFrame,
    budget: int,
    media_costs: dict[str, int] | None = None,
    default_media_cost: int = 64,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    n_partitions: int | None = None,
    persisted: list | None = None,
) -> DataFrame:
    """Sequence packing over INTERLEAVED text+media documents — the
    north-rule input shape (``doc_id, spans array<struct<kind, text,
    media_ref, offset>>``) packed for multimodal training, where a
    media span consumes a fixed placeholder-token budget (the
    Flamingo/Chameleon-style accounting: an image is a constant number
    of vision tokens in the stream) and a text-bearing span consumes
    its whitespace token count.

    Spec (frozen, deterministic): per span, cost =
    ``token_count(text)`` when the span carries text, else
    ``media_costs.get(kind, default_media_cost)``; zero-cost spans are
    dropped.  Concatenate span costs in (doc_id, span position) order
    into one global stream and cut at ``budget`` boundaries, emitting
    one row per (span, window) overlap::

        (doc_id, span_index, kind, media_ref, n_tokens,
         pack_id, pack_start, pack_end)

    with pack_start/pack_end the span's [start, end) token positions
    within that window — a media span that straddles a boundary splits
    like any other token run (concat-then-cut semantics; a
    no-split/pad policy is a different packer by design).  Downstream,
    :func:`pack_media_manifest` derives each pack's ordered media
    fetch list for loader prefetch.

    Scale shape: identical to :func:`pack_sequences` — the stream
    order is (doc_id, span_index), so the global cumsum is the same
    two-phase distributed prefix sum (one range shuffle on the
    composite key, per-partition window, P driver carries), output
    independent of partition count.  The span explode is linear and
    row-local.  Same persist lifecycle (``persisted=[]`` + lazy at
    corpus scale).
    """
    spark = docs.sparkSession
    P = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    mc = media_costs or {}
    if mc:
        cost_map = F.create_map(
            *[F.lit(x) for k in sorted(mc) for x in (k, int(mc[k]))]
        )
        media_cost = F.coalesce(
            cost_map[F.col("kind")], F.lit(int(default_media_cost))
        )
    else:
        media_cost = F.lit(int(default_media_cost))
    from srag_spark.operators.dedup import spread_input

    # guide §2.5: same double-pass consideration as pack_sequences
    flat = spread_input(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(spans_col).alias("span_index", "_s"),
    ).select(
        "doc_id",
        "span_index",
        F.col("_s.kind").alias("kind"),
        F.col("_s.text").alias("_text"),
        F.col("_s.media_ref").alias("media_ref"),
    )
    costed = flat.select(
        "doc_id",
        "span_index",
        "kind",
        "media_ref",
        F.when(F.col("_text").isNotNull(), token_count_col(F.col("_text")))
        .otherwise(media_cost)
        .cast("long")
        .alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    ordered = (
        costed.repartitionByRange(P, "doc_id", "span_index")
        .sortWithinPartitions("doc_id", "span_index")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if persisted is not None:
        persisted.append(ordered)
    try:
        totals = {
            r["_pid"]: r["t"]
            for r in ordered.groupBy("_pid")
            .agg(F.sum("n_tokens").alias("t"))
            .collect()
        }
        offsets: dict[int, int] = {}
        acc = 0
        for pid in sorted(totals):
            offsets[pid] = acc
            acc += totals[pid]
        if offsets:
            off_map = F.create_map(
                *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
            )
        else:
            off_map = F.create_map().cast("map<int,bigint>")
        w = (
            Window.partitionBy("_pid")
            .orderBy("doc_id", "span_index")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = ordered.select(
            "doc_id",
            "span_index",
            "kind",
            "media_ref",
            "n_tokens",
            (off_map[F.col("_pid")] + F.sum("n_tokens").over(w)).alias("cum_end"),
        ).withColumn("cum_start", F.col("cum_end") - F.col("n_tokens"))
        b = F.lit(int(budget)).cast("long")
        packed = cum.select(
            "doc_id",
            "span_index",
            "kind",
            "media_ref",
            "n_tokens",
            F.explode(
                F.sequence(
                    F.expr(f"cum_start div {int(budget)}"),
                    F.expr(f"(cum_end - 1) div {int(budget)}"),
                )
            ).alias("pack_id"),
            "cum_start",
            "cum_end",
        ).select(
            "doc_id",
            "span_index",
            "kind",
            "media_ref",
            "n_tokens",
            "pack_id",
            (F.greatest("cum_start", F.col("pack_id") * b) - F.col("pack_id") * b)
            .alias("pack_start"),
            (F.least("cum_end", (F.col("pack_id") + 1) * b) - F.col("pack_id") * b)
            .alias("pack_end"),
        )
        if persisted is not None:
            return packed  # lazy; caller releases via dedup.release()
        return packed.localCheckpoint(eager=True)
    finally:
        if persisted is None:
            ordered.unpersist(blocking=False)


def pack_media_manifest(packed: DataFrame) -> DataFrame:
    """Per-pack ordered media fetch list from :func:`pack_interleaved`
    output: ``(pack_id, media_refs array<string>)`` — the blobs a
    dataloader prefetches before serving the pack, in stream order.  A
    media span straddling two packs appears in both (both need the
    blob).  One groupBy over the media rows only; per-group payload
    bounded by budget/min_media_cost refs."""
    return (
        packed.filter(F.col("media_ref").isNotNull())
        .groupBy("pack_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pack_start", "span_index", "media_ref"))
            ).alias("_m")
        )
        .select(
            "pack_id",
            F.transform("_m", lambda s: s["media_ref"]).alias("media_refs"),
        )
    )


def ngram_hash_col(text_col, n: int) -> "F.Column":
    """All order-n token-window hashes of a text, as
    ``array<string>`` of md5(space-joined window) — native
    sequence/transform/slice, no UDF.  Empty/short texts give [].
    The token array is let-bound (``dedup.bind_col``) so the split runs
    once per row, not once per window (r6 — the un-bound form
    re-tokenized the whole document per window)."""
    from srag_spark.operators.dedup import bind_col

    def _build(toks):
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_col(F.array_remove(F.split(text_col, r"\s+"), ""), _build)


def find_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    positions: bool = False,
) -> DataFrame:
    """Benchmark-decontamination scan: for every training doc, count how
    many of its order-``n`` token windows appear ANYWHERE in the eval
    set (the standard n-gram overlap test used to scrub benchmark leaks
    from pretraining corpora; n=13 is the common choice).

    Returns (doc_id, ngram_hits, contaminated) for EVERY train doc —
    docs shorter than ``n`` tokens have 0 windows and are clean.

    Hit-count semantics (frozen): ``ngram_hits`` counts every TRAIN-side
    window occurrence matching the deduplicated eval hash set — "windows
    in this doc that leak", not "distinct leaked n-grams".  A doc that
    repeats one leaked n-gram k times counts k.  The boolean
    ``contaminated`` verdict (what the scrub consumes) is identical
    under either convention.

    ``positions=True`` adds ``hit_positions`` — the sorted 0-based token
    start index of every matching window — for SPAN-LEVEL scrubbing
    (cut the leaked region, keep the rest of the doc) rather than
    whole-doc drops: what production decontamination actually does.  The
    positions row stays bounded by the doc's own token count, and the
    plan differs only in carrying one int per exploded window.

    Scale shape: the eval set's distinct window hashes are a SMALL
    relation (eval sets are benchmarks, not corpora) → broadcast; the
    train side explodes to one row per token window (linear in corpus
    tokens) and the broadcast hash join discards non-matches before any
    shuffle — the only shuffles are the per-doc hit count over the
    (rare) surviving matches and the join-back of the hit relation onto
    the train ids (AQE-broadcast when small; not forced, since a fully
    contaminated corpus makes it large).  Nothing quadratic, nothing
    driver-side.
    """
    from srag_spark.operators.dedup import spread_input

    eval_hashes = (
        eval_docs.select(
            F.explode(ngram_hash_col(F.col(text_col), n)).alias("_h")
        ).distinct()
    )
    train_ids = train.select(F.col(id_col).alias("doc_id"))
    # guide §2.5: the train-side window explode expands a small doc scan
    # 10-50×; spread an under-partitioned input first (no-op at scale)
    windows = spread_input(train).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ngram_hash_col(F.col(text_col), n)).alias("_pos", "_h"),
    )
    matched = windows.join(F.broadcast(eval_hashes), "_h")
    aggs = [F.count(F.lit(1)).cast("long").alias("ngram_hits")]
    if positions:
        aggs.append(
            F.sort_array(F.collect_list("_pos")).alias("hit_positions")
        )
    hits = matched.groupBy("doc_id").agg(*aggs)
    # NOT force-broadcast: hits is bounded by contaminated docs, which is
    # usually tiny but unbounded in pathological full-contamination runs;
    # AQE broadcasts it when it is actually small
    cols = [
        "doc_id",
        F.coalesce("ngram_hits", F.lit(0).cast("long")).alias("ngram_hits"),
        (F.coalesce("ngram_hits", F.lit(0)) > 0).alias("contaminated"),
    ]
    if positions:
        cols.append(
            F.coalesce(
                "hit_positions", F.array().cast("array<int>")
            ).alias("hit_positions")
        )
    return train_ids.join(hits, "doc_id", "left").select(*cols)


def scrub_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level decontamination — cut every leaked region instead of
    dropping the doc (what production scrubs actually do: a survey page
    quoting one benchmark question loses the quote, not the page).

    Every order-``n`` train window matching the eval set is excised as
    ``[p, p+n)``; overlapping hits interval-merge.  Returns ``(doc_id,
    text, n_tokens, n_removed)`` for EVERY train doc — clean docs pass
    through with ``n_removed = 0`` (token-stream text semantics, see
    ``substrings.cut_token_windows``).

    Plan: :func:`find_contamination`'s broadcast hash scan (linear
    explode, matches only survive) + the shared interval-cut kernel
    (one co-keyed join, row-local surgery).  Nothing quadratic."""
    from srag_spark.operators.substrings import cut_token_windows

    hits = find_contamination(
        train, eval_docs, n=n, id_col=id_col, text_col=text_col,
        positions=True,
    )
    cuts = hits.filter(F.col("contaminated")).select(
        "doc_id", F.col("hit_positions").alias("_ps")
    )
    return cut_token_windows(train, cuts, n, id_col=id_col, text_col=text_col)


def sample_mixture(
    docs: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    seed: int = 42,
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-group mixture sampling.

    A doc survives iff ``substr(md5(doc_id || ':' || seed), 1, 8)``
    compares below its group's hex threshold — a pure function of
    (doc_id, seed), so the sample is reproducible across runs, cluster
    sizes, and engines, and re-sampling with a new seed is independent.
    Groups absent from ``rates`` use ``default_rate``.  Adds
    ``weight = 1/rate`` (inverse sampling probability).
    """
    hex8 = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{int(seed)}"))),
        1,
        8,
    )
    thr = F.lit(_rate_threshold_hex(default_rate))
    wt = F.lit(1.0 / default_rate if default_rate > 0 else 0.0)
    for g in sorted(rates):
        r = rates[g]
        thr = F.when(F.col(group_col) == F.lit(g), F.lit(_rate_threshold_hex(r))).otherwise(thr)
        wt = F.when(
            F.col(group_col) == F.lit(g), F.lit(1.0 / r if r > 0 else 0.0)
        ).otherwise(wt)
    return docs.filter(hex8 < thr).withColumn("weight", wt)


_HEX12_SPACE = float(16**12)


def sample_weighted(
    docs: DataFrame,
    k: int,
    weight_col: str,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-``k`` weighted sample without replacement — the
    Efraimidis–Spirakis A-ES scheme (2006): each row draws a
    deterministic uniform ``u ∈ (0, 1]`` from
    ``md5(id ':' seed)`` and ranks by ``key = ln(u) / w`` descending
    (the order statistic of ``u^(1/w)``); the top ``k`` keys are the
    sample, and inclusion probability scales with weight exactly as
    weighted sampling without replacement requires.  This is the
    quality- or length-proportional draw ``sample_mixture`` (Bernoulli,
    group-rate) and ``sample_stratified`` (uniform per group) don't
    cover.

    Rows with a null or non-positive weight are ineligible.  The key is
    rounded to 6 decimals before ranking with an ``id`` tie-break (the
    corpus-wide rank-boundary convention), so the selected set is a
    pure function of ``(ids, weights, seed)`` — engine- and
    parallelism-independent, and replayable in ANSI SQL.

    Plan shape: the key is row-local column work; the global top-k is
    ``orderBy(...).limit(k)`` — Spark's TakeOrderedAndProject (per-
    partition heaps + one k-row driver merge), never a full sort.
    Returns the sampled rows plus ``sample_key``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    v = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col(id_col).cast("string"), F.lit(f":{int(seed)}"))
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("double")
    u = (v + F.lit(1.0)) / F.lit(_HEX12_SPACE)
    w = F.col(weight_col).cast("double")
    key = F.round(F.log(u) / w, 6)
    return (
        docs.filter(w.isNotNull() & (w > 0))
        .withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(k)
    )


def sample_stratified(
    docs: DataFrame,
    k: int,
    group_col: str = "source",
    seed: int = 42,
    id_col: str = "doc_id",
    oversample: float = 4.0,
    persisted: list | None = None,
) -> DataFrame:
    """Exact-size stratified sample: the ``k`` docs per group with the
    smallest ``md5(doc_id:seed)`` (full 32-hex; ties by ``doc_id``).

    The exact-count complement to :func:`sample_mixture`'s Bernoulli
    draw: "give me exactly 10k eval docs per language" needs a sample
    whose SIZE is guaranteed, not merely expected.  Like the mixture
    sampler, the selected set is a pure function of (doc ids, seed) —
    independent of partitioning, parallelism, and engine — and carries
    ``sample_rank`` (1-based hash rank within the group).  Groups with
    at most ``k`` docs are returned whole.

    Plan — the naive form (``row_number`` over a per-group window on
    the FULL corpus) sorts every group's entire row set and is the
    canonical skew-killer when one group holds a trillion rows.  Two
    phases instead:

    1. group census (one map-side-combinable count groupBy; group
       cardinality is bounded — sources / languages — so the counts
       come to the driver like the mixture-rate ops);
    2. hex-prefix prefilter at rate ``min(1, oversample·k/n_g)`` per
       group (row-local, same threshold machinery as the mixture
       sampler), then the window ranks ONLY the ~``oversample·k``
       survivors per group.

    The prefix filter is order-consistent with the full-hash ranking
    (survivors' hashes all compare below non-survivors'), so whenever a
    group retains ≥ ``min(k, n_g)`` survivors the true top-k is inside
    the survivor set — checked exactly (count per group on the ranked
    result, a bounded frame); a group the prefilter undershot (hash
    fluctuation at small ``n_g``) is re-ranked without the prefilter.
    The fallback is rare by construction and touches only the deficient
    groups' rows.
    """
    h_full = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{int(seed)}"))
    )
    counts = {
        r["_g"]: r["_n"]
        for r in docs.groupBy(F.col(group_col).alias("_g"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    }
    if not counts:
        w0 = Window.partitionBy(group_col).orderBy("_hk", id_col)
        return (
            docs.withColumn("_hk", h_full)
            .withColumn("sample_rank", F.row_number().over(w0).cast("long"))
            .filter(F.col("sample_rank") <= k)
            .drop("_hk")
        )
    thr = F.lit("zzzzzzzz")
    for g in sorted(counts, key=str):
        rate = min(1.0, oversample * k / counts[g]) if counts[g] else 1.0
        thr = F.when(
            F.col(group_col) == F.lit(g), F.lit(_rate_threshold_hex(rate))
        ).otherwise(thr)

    def _rank(frame: DataFrame) -> DataFrame:
        w = Window.partitionBy(group_col).orderBy("_hk", id_col)
        return (
            frame.withColumn(
                "sample_rank", F.row_number().over(w).cast("long")
            )
            .filter(F.col("sample_rank") <= k)
            .drop("_hk")
        )

    ranked = _rank(
        docs.withColumn("_hk", h_full).filter(
            F.substring(F.col("_hk"), 1, 8) < thr
        )
    ).persist()  # bounded: ≤ k rows per group; read by the deficiency
    # check and again by the caller's action — register for release
    if persisted is not None:
        persisted.append(ranked)
    got = {
        r["_g"]: r["_n"]
        for r in ranked.groupBy(F.col(group_col).alias("_g"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    }
    deficient = [
        g for g, n_g in counts.items() if got.get(g, 0) < min(k, n_g)
    ]
    if not deficient:
        return ranked
    redo = _rank(
        docs.filter(F.col(group_col).isin(deficient)).withColumn(
            "_hk", h_full
        )
    )
    return ranked.filter(~F.col(group_col).isin(deficient)).unionByName(redo)


def mixture_group_stats(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus statistics feeding rate derivation:
    ``(group, n_docs, n_tokens)``.  One map-side-combinable groupBy;
    the group relation is bounded (languages / domains / sources), so
    everything downstream of this operates on a tiny frame."""
    return docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count_col(F.col(text_col))).cast("long").alias("n_tokens"),
    )


def temperature_mixture_rates(
    docs: DataFrame,
    budget_tokens: float,
    temperature: float = 2.0,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled mixture rates — the multilingual-LM standard
    (mT5/XLM-R style): target share ``q_g ∝ p_g^(1/T)`` flattens the
    raw token distribution toward uniform as ``T`` grows (``T=1`` is
    proportional sampling, ``T→∞`` uniform).  ``N^(1/T)`` cancels in
    the normalization, so ``q_g = n_g^(1/T) / Σ_h n_h^(1/T)``.

    Returns one row per group::

        (group, n_docs, n_tokens, p_raw, q_target, alloc_tokens, epochs)

    ``alloc_tokens = q_g · budget_tokens``; ``epochs`` is the implied
    pass count over the group (``>1`` means upsampling — feed
    :func:`mixture_rates_dict` / :func:`sample_mixture` to realise the
    downsampling part deterministically).  Float outputs are rounded to
    7 decimals so the cross-engine hash is insensitive to
    summation-order ulps in ``Σ n^(1/T)``.

    Scale shape: one groupBy over the corpus + a broadcast single-row
    totals join; nothing further touches row data.
    """
    stats = mixture_group_stats(docs, group_col, text_col)
    inv_t = 1.0 / float(temperature)
    pw = F.pow(F.col("n_tokens").cast("double"), F.lit(inv_t))
    tot = stats.agg(
        F.sum("n_tokens").cast("double").alias("_N"),
        F.sum(pw).alias("_S"),
    )
    b = F.lit(float(budget_tokens))
    q = F.when(F.col("_S") > 0, pw / F.col("_S")).otherwise(F.lit(0.0))
    return (
        stats.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            F.round(
                F.when(
                    F.col("_N") > 0, F.col("n_tokens") / F.col("_N")
                ).otherwise(F.lit(0.0)),
                7,
            ).alias("p_raw"),
            F.round(q, 7).alias("q_target"),
            F.round(q * b, 4).alias("alloc_tokens"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0, q * b / F.col("n_tokens")
                ).otherwise(F.lit(0.0)),
                7,
            ).alias("epochs"),
        )
    )


def unimax_mixture_rates(
    docs: DataFrame,
    budget_tokens: float,
    epoch_cap: float = 2.0,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """UniMax mixture rates (Chung et al. 2023): spread the token
    budget as uniformly as possible across groups, but never take more
    than ``epoch_cap`` passes over any group's data — the repeated-
    epoch overfitting guard temperature sampling lacks.

    Water-filling: with groups sorted by capacity
    ``c_g = epoch_cap · n_g`` ascending, a prefix of small groups caps
    out at ``c_g`` and the rest split the remaining budget evenly at
    the water level ``λ``; ``alloc_g = min(c_g, λ)``.  The capped
    prefix is found without iteration: group ``k`` (1-based, ties
    broken by group name) caps out iff
    ``c_k · (G − k + 1) ≤ B − Σ_{i<k} c_i`` — the classic sorted
    water-filling characterization, exact in window functions.  If the
    budget exceeds total capacity every group caps at ``c_g`` (the
    budget is then unreachable by construction).

    Returns ``(group, n_docs, n_tokens, capacity, alloc_tokens,
    epochs)``.  All arithmetic is exact integer-valued doubles except
    the single ``λ`` division, so the cross-engine hash is stable
    without rounding games (outputs still rounded to 7 for uniformity).

    Scale shape: one corpus groupBy; the sort/window/aggregate run on
    the bounded group relation (single-partition window over G rows —
    G is languages/domains, not data).
    """
    stats = mixture_group_stats(docs, group_col, text_col)
    cap = (F.lit(float(epoch_cap)) * F.col("n_tokens")).alias("capacity")
    s = stats.select("*", cap)
    w = Window.orderBy("capacity", group_col)
    b = F.lit(float(budget_tokens))
    g_total = Window.partitionBy()
    k = F.row_number().over(w)
    cum_prev = F.coalesce(
        F.sum("capacity").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0.0),
    )
    n_groups = F.count(F.lit(1)).over(g_total)
    capped = F.col("capacity") * (n_groups - k + 1) <= (b - cum_prev)
    t = s.select("*", capped.alias("_capped"), n_groups.alias("_g"))
    n_capped = F.sum(F.when(F.col("_capped"), 1).otherwise(0)).over(g_total)
    capped_sum = F.sum(
        F.when(F.col("_capped"), F.col("capacity")).otherwise(F.lit(0.0))
    ).over(g_total)
    lam = F.when(
        F.col("_g") > n_capped, (b - capped_sum) / (F.col("_g") - n_capped)
    )
    alloc = F.when(
        F.col("_capped") | lam.isNull(), F.col("capacity")
    ).otherwise(F.least(F.col("capacity"), lam))
    return t.select(
        group_col,
        "n_docs",
        "n_tokens",
        "capacity",
        F.round(alloc, 4).alias("alloc_tokens"),
        F.round(
            F.when(
                F.col("n_tokens") > 0, alloc / F.col("n_tokens")
            ).otherwise(F.lit(0.0)),
            7,
        ).alias("epochs"),
    )


def mixture_rates_dict(rates: DataFrame, group_col: str = "source") -> dict:
    """Collect a derived-rates frame (bounded: one row per group) into
    the ``{group: keep_rate}`` dict :func:`sample_mixture` consumes.
    ``epochs`` above 1 clamp to 1 — hash-threshold sampling realises
    downsampling; upsampling (extra epochs) is materialized by
    :func:`repeat_epochs` (feed it :func:`epochs_dict` instead)."""
    return {
        r[group_col]: min(1.0, float(r["epochs"]))
        for r in rates.select(group_col, "epochs").collect()
    }


def epochs_dict(rates: DataFrame, group_col: str = "source") -> dict:
    """Collect a derived-rates frame into the UNclamped
    ``{group: epochs}`` dict :func:`repeat_epochs` consumes — the
    upsampling-capable counterpart of :func:`mixture_rates_dict`."""
    return {
        r[group_col]: float(r["epochs"])
        for r in rates.select(group_col, "epochs").collect()
    }


def repeat_epochs(
    docs: DataFrame,
    epochs: dict[str, float],
    group_col: str = "source",
    seed: int = 42,
    id_col: str = "doc_id",
    default_epochs: float = 0.0,
) -> DataFrame:
    """Materialize a fractional-epoch training mixture: every doc in a
    group with ``epochs = e`` is emitted ``floor(e)`` times, plus one
    extra copy iff ``substr(md5(doc_id || ':' || seed), 1, 8)`` falls
    below the hex threshold for ``e − floor(e)`` — the same row-local
    hash verdict :func:`sample_mixture` uses, so for ``e ≤ 1`` the
    surviving doc SET is identical to ``sample_mixture`` at rate ``e``
    with the same seed (pinned in tests), and for ``e > 1`` this is the
    dataloader-side upsampling ``mixture_rates_dict`` defers (e.g.
    UniMax epochs between 1 and the cap).

    Output: the input columns plus ``epoch_idx`` (0-based copy index) —
    downstream packing/sharding treats each copy as an independent row
    (shard assignment should key on ``(doc_id, epoch_idx)``).

    Scale shape: one CASE chain over the bounded group set, one
    ``explode(sequence(...))`` whose fan-out equals the copy count —
    row-local, zero shuffles, parallelism- and engine-independent; the
    output size is exactly the token budget the mixture allocates."""
    import math

    hex8 = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{int(seed)}"))),
        1,
        8,
    )

    def _copies(e: float):
        if e < 0:
            raise ValueError(f"epochs must be ≥ 0, got {e}")
        base = int(math.floor(e))
        frac_thr = _rate_threshold_hex(e - base)
        return F.lit(base) + (hex8 < F.lit(frac_thr)).cast("int")

    nc = _copies(float(default_epochs))
    for g in sorted(epochs):
        nc = F.when(F.col(group_col) == F.lit(g), _copies(float(epochs[g]))).otherwise(nc)
    cols = docs.columns
    return (
        docs.withColumn("_nc", nc)
        .filter(F.col("_nc") > 0)
        .select(
            *cols,
            F.explode(
                F.sequence(F.lit(0), (F.col("_nc") - 1).cast("int"))
            ).alias("epoch_idx"),
        )
    )


def write_shards(
    docs: DataFrame,
    path: str,
    n_shards: int,
    seed: int = 42,
    id_col: str = "doc_id",
) -> dict:
    """Materialize a corpus as deterministic training shards — the last
    mile of the pipeline: ``path/shard_id=K/`` parquet directories, one
    file per shard, rows ordered by ``shard_pos`` (the
    :func:`assign_shards` hash permutation), plus a ``_shards.json``
    manifest with per-shard row counts for dataloader planning.

    Returns the manifest dict.  Deterministic end to end: shard
    membership and in-shard order are pure functions of (doc_id, seed),
    so re-running the write produces identical shard contents on any
    cluster size.

    Scale shape: ONE hash shuffle (``repartition(n_shards, shard_id)``
    → exactly one task, one file per shard), per-task sort on
    ``(shard_id, shard_pos)`` — never a global sort; the manifest agg
    moves one row per shard.  Readers doing ``shard_id=K`` filters get
    directory-level partition pruning from the parquet layout."""
    from srag_spark.sources import fsio

    spark = docs.sparkSession
    assigned = assign_shards(docs, n_shards, seed=seed, id_col=id_col)
    out = docs.withColumnRenamed(id_col, "doc_id").join(assigned, "doc_id")
    (
        out.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "shard_pos")
        .write.partitionBy("shard_id")
        .mode("overwrite")
        .parquet(path)
    )
    counts = {
        int(r["shard_id"]): r["n"]
        for r in assigned.groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    manifest = {
        "n_shards": int(n_shards),
        "seed": int(seed),
        "n_docs": int(sum(counts.values())),
        "counts": {str(k): int(v) for k, v in sorted(counts.items())},
    }
    fsio.write_text(spark, f"{path}/_shards.json", json.dumps(manifest))
    return manifest


def read_shards_manifest(spark, path: str) -> dict:
    """The ``_shards.json`` manifest of a :func:`write_shards` layout
    (read through the raw FS API — Spark's file index hides
    ``_``-prefixed sidecars from DataFrame reads by design)."""
    from srag_spark.sources import fsio

    return json.loads(fsio.read_text(spark, f"{path}/_shards.json"))


def read_shards(spark, path: str, shard_id: int | None = None) -> DataFrame:
    """Read a :func:`write_shards` layout — the whole corpus, or one
    shard (``shard_id=K`` directory pruning: a dataloader worker scans
    ONLY its shard's files, the property the layout exists for)."""
    df = spark.read.parquet(path)
    if shard_id is not None:
        df = df.filter(F.col("shard_id") == int(shard_id))
    return df


def derive_mixture_rates(
    docs: DataFrame,
    spec: tuple,
    group_col: str = "source",
    text_col: str = "text",
) -> dict[str, float]:
    """Resolve a mixture SPEC into the ``{group: keep_rate}`` dict
    :func:`sample_mixture` consumes::

        ("temperature", budget_tokens, T)
        ("unimax", budget_tokens, epoch_cap)

    Rates are derived from ``docs`` itself (group token counts), so
    pass the population that will actually be sampled."""
    kind, budget, param = spec
    if kind == "temperature":
        rates = temperature_mixture_rates(
            docs, budget, temperature=param,
            group_col=group_col, text_col=text_col,
        )
    elif kind == "unimax":
        rates = unimax_mixture_rates(
            docs, budget, epoch_cap=param,
            group_col=group_col, text_col=text_col,
        )
    else:
        raise ValueError(
            f"mixture spec kind must be 'temperature' or 'unimax', got {kind!r}"
        )
    return mixture_rates_dict(rates, group_col)


def assign_splits(
    docs: DataFrame,
    splits: dict[str, float],
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test split assignment: adds a ``split``
    column partitioning the corpus by hash ranges of
    ``md5('split:' || seed || ':' || doc_id)``.

    ``splits`` maps split name -> fraction, in INSERTION ORDER; the
    fractions must sum to 1 (the last split absorbs the hash-space
    remainder, so float rounding never drops a row).  Like
    :func:`sample_mixture`, membership is a pure function of
    (doc_id, seed): reproducible across runs, cluster sizes, and
    engines; independent of row order and partitioning; and stable
    under corpus growth (a doc never migrates between splits when new
    docs arrive — the property that keeps eval sets uncontaminated
    across corpus refreshes).  Row-local, zero shuffles."""
    fracs = list(splits.items())
    if not fracs:
        raise ValueError("splits must name at least one split")
    total = sum(f for _, f in fracs)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    hex8 = F.substring(
        F.md5(F.concat(F.lit(f"split:{int(seed)}:"),
                       F.col(id_col).cast("string"))),
        1,
        8,
    )
    # cumulative hash-range thresholds; chained whens evaluate
    # first-match, so wrap outward from the LAST (largest) threshold to
    # keep smallest-threshold-wins order
    expr = F.lit(fracs[-1][0])  # last split takes the remainder
    cums = []
    cum = 0.0
    for name, frac in fracs[:-1]:
        cum += frac
        cums.append((name, _rate_threshold_hex(cum)))
    for name, thr in reversed(cums):
        expr = F.when(hex8 < F.lit(thr), F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def assign_shards(
    docs: DataFrame,
    n_shards: int,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, shard_id, shard_pos): deterministic global shuffle +
    sharding for training-order serving — every doc lands in shard
    ``md5_prefix(doc) % n_shards`` at the position its hash sorts to
    within the shard.  The standard "shuffle once, write N shard files,
    readers stream shards in order" layout for dataloader consumption.

    Scale shape: the permutation is HASH-DERIVED, so there is no global
    sort — one hash shuffle on ``shard_id`` plus a per-shard window
    (Spark sorts (shard_id, hash) within each partition only; with
    n_shards >> partitions each task orders its own shards
    independently).  Shard sizes concentrate at corpus_size/n_shards
    (uniform hash), so the per-shard windows stay balanced at any
    scale.  Position ties (identical 8-hex prefixes) break by doc_id,
    keeping the output a pure function of (doc_id, seed) — identical
    across engines, runs, and partition counts."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = F.md5(
        F.concat(F.lit(f"shard:{int(seed)}:"), F.col(id_col).cast("string"))
    )
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % n_shards
    ).cast("int")
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        shard.alias("shard_id"),
        h.alias("_h"),
    )
    w = Window.partitionBy("shard_id").orderBy("_h", "doc_id")
    return out.select(
        "doc_id",
        "shard_id",
        F.row_number().over(w).cast("int").alias("shard_pos"),
    )
