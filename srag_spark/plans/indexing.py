"""E3 indexing pipeline: extracted docs → transcripts text → chunks →
embeddings, as one composed write job (IndexingPipeline.scala:56-115).

The reference runs persist → embed → vector upsert → lexical
delete+index per document, sequentially over HTTP; here the whole fan-out
is one declarative plan over all documents at once.  The reference's
"delete then index" idempotency (tolerated-failure delete,
IndexingPipeline.scala:93-103) maps to ``SragEngine.ingest``'s keyed
upserts of these plans — a re-run converges to the same tables (J7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from srag_spark.functions.embedding import make_embed_udf
from srag_spark.operators.chunk import chunk_documents, reconstruct_text


def build_chunks(
    extracted: DataFrame,
    max_chars: int = 1000,
    overlap: int = 200,
    doc_meta: DataFrame | None = None,
) -> DataFrame:
    """extracted docs → chunks table (doc_id, segment_index, text, metadata).

    ``doc_meta`` (doc_id, metadata) carries per-document metadata onto
    every chunk row — the reference indexes ``metadata.*`` on each segment
    doc for filterable search (OpenSearchAdapter.scala:56-79,107-127;
    QdrantAdapter.scala:66-77 payload).  The join is keyed on doc_id —
    the same key every downstream bucket/upsert uses — and ``doc_meta``
    is a thin (id, small-map) projection of the ingest batch, so at scale
    this is one co-keyed shuffle of ids+maps, not a second pass over
    document text."""
    text_df = reconstruct_text(extracted)
    if doc_meta is not None:
        text_df = text_df.join(
            doc_meta.select("doc_id", "metadata"), "doc_id", "left"
        )
    return chunk_documents(text_df, max_chars=max_chars, overlap=overlap)


def build_embeddings(chunks: DataFrame, embed_fn=None) -> DataFrame:
    """chunks → embeddings table (E1 over every chunk, Arrow-batched).

    Parallelism is partition-level (the reference fans out per-chunk HTTP
    calls with foreachPar, HuggingFaceAdapter.scala:37 — here every
    partition embeds its chunks in one vectorized pass).  ``embed_fn``
    injects a real model (functions.embedding module docstring contract);
    default is the deterministic stub."""
    return chunks.select(
        "doc_id",
        "segment_index",
        make_embed_udf(embed_fn)(F.col("text")).alias("vector"),
        "metadata",
    )
