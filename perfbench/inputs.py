"""Seeded input generation for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs.  Generation is the benchmark's own cost and runs
before any timed or set-up region.
"""

from __future__ import annotations

import random

from srag_spark.synth import generate_doc

# Query vocabulary.  "Common" words are drawn from the synthetic corpus
# vocabulary (srag_spark.synth); "rare" words appear in few chunks or none.
COMMON_TERMS = (
    "the quick brown fox spark engine parses documents span sequences "
    "catalyst plan arrow batches columns jvm python workers extraction "
    "content boilerplate navigation pages paragraphs words offsets"
).split()
RARE_TERMS = "anchors refs chrome lazy sentences zebra quorum xylophone".split()

# Curate corpus vocabulary, shaped like the test data's `documents` table:
# technical filler plus per-language marker words (the curation gate
# predicts language from markers; zh carries none and lands on "und").
_FILLER = (
    "spark group query row data slow small filter customer line batch value "
    "merge table join sort agg part column window stream vector key hash "
    "scan order fast big"
).split()
_MARKERS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "a"),
    "de": ("der", "die", "und", "das", "nicht", "ist", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "que"),
    "es": ("el", "la", "los", "que", "de", "es", "una", "por"),
    "zh": (),
}
_LANGS = ("en", "en", "en", "und", "de", "fr", "es", "zh")


def extraction_docs(n_docs: int, seed: int, mega_every: int = 500) -> list[tuple]:
    """(doc_id, spans) rows from the interleaved synthetic generator.
    Doc ids embed the seed, so two seeds never share ids."""
    rows = []
    for i in range(n_docs):
        doc_id = f"s{seed}-d{i:06d}"
        mega = mega_every > 0 and i % mega_every == mega_every - 1
        rows.append((doc_id, generate_doc(doc_id, seed=seed, mega=mega)))
    return rows


def ingest_batches(
    n_batches: int, batch_docs: int, seed: int
) -> list[tuple[str, list[tuple]]]:
    """Successive ingest batches as (kind, rows).  Every second batch
    re-ingests the previous batch's doc ids with new content (a
    replace-entity update); the others bring new ids.  Rows carry a
    per-doc metadata map so metadata filters have something to match."""
    out = []
    fresh = 0
    for b in range(n_batches):
        if b % 2 == 1:
            ids = [doc_id for doc_id, *_ in out[-1][1]]
            kind = "reingest"
        else:
            ids = [f"s{seed}-d{fresh + i:06d}" for i in range(batch_docs)]
            fresh += batch_docs
            kind = "fresh"
        rows = [
            (
                doc_id,
                generate_doc(doc_id, seed=seed * 1000 + b, mega=False),
                {"tier": "gold" if j % 3 == 0 else "std", "batch": str(b)},
            )
            for j, doc_id in enumerate(ids)
        ]
        out.append((kind, rows))
    return out


def serve_requests(n: int, seed: int, doc_ids: list[str]) -> list[tuple]:
    """A seeded closed-loop request stream: every third request is a
    query ("query", text, flt), the others transcript lookups ("lookup",
    doc_id).  Queries have 1-6 terms mixing common and rare vocabulary; a
    quarter carry a metadata filter."""
    rng = random.Random(f"serve:{seed}")
    reqs = []
    for i in range(n):
        if i % 3 == 0:
            k = rng.randint(1, 6)
            terms = [
                rng.choice(RARE_TERMS if rng.random() < 0.25 else COMMON_TERMS)
                for _ in range(k)
            ]
            flt = {"tier": "gold"} if rng.random() < 0.25 else None
            reqs.append(("query", " ".join(terms), flt))
        else:
            reqs.append(("lookup", rng.choice(doc_ids)))
    return reqs


def curate_documents(n_docs: int, seed: int) -> list[dict]:
    """Rows of the `documents` table shape (doc_id, text, lang, source,
    n_chars) that the frozen corpus_build entry reads.  The entry itself
    plants exact copies (doc_id < 30) and near copies (doc_id < 50) and
    takes doc_id % 50 == 0 as the eval set; here a share of docs also
    embeds a 10-word run of an eval doc, so decontamination has work."""
    rng = random.Random(f"curate:{seed}")
    texts = []
    for i in range(n_docs):
        lang = rng.choice(_LANGS)
        markers = _MARKERS.get(lang, ())
        words = []
        for _ in range(rng.randint(12, 90)):
            if markers and rng.random() < 0.3:
                words.append(rng.choice(markers))
            else:
                words.append(rng.choice(_FILLER))
        if rng.random() < 0.05:
            words = words[:3]  # short, low-quality docs the gate drops
        texts.append((lang, words))
    rows = []
    for i, (lang, words) in enumerate(texts):
        if i % 50 != 0 and i % 11 == 3:
            src = texts[(i // 50) * 50][1]
            if len(src) >= 10:
                at = rng.randint(0, len(src) - 10)
                words = words + src[at : at + 10]
        text = " ".join(words)
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": lang,
                "source": f"src{i % 7}",
                "n_chars": len(text),
            }
        )
    return rows
