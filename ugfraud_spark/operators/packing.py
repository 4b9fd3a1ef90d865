"""Training-sequence packing (concat-and-chunk) over the document
stream.

The standard LM-pretraining batching rule: documents are laid
end-to-end in doc_id order into one token stream, and training
sequences are the consecutive ``budget``-token windows of that stream.
Every doc's placement is a pure function of the EXCLUSIVE prefix sum
of token counts in doc_id order.

The scale bomb this module exists to avoid: the naive Spark expression
``F.sum("n_tokens").over(Window.orderBy("doc_id"))`` plans an
``Exchange SinglePartition`` — the entire corpus serialised through
ONE task (at 10^10 docs, a guaranteed OOM/straggler). Implemented
instead as the classic two-phase distributed prefix sum:

1. docs are bucketed by contiguous doc_id range; the running sum
   WITHIN a bucket is a ``Window.partitionBy(bucket)`` — a hash
   shuffle whose per-task frame is bounded by the bucket size;
2. per-bucket token totals (|corpus|/bucket rows) get their own
   exclusive running sum — the only SinglePartition window in the
   plan, over the TINY totals frame — and ride a broadcast join back.

The same shape as ``attrs.grouped_percentiles``'s histogram walk: the
unbounded computation happens on an aggregate whose size the operator
controls, never on the raw corpus. Plan pinned in
``tests/test_plan_shapes.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import token_count

PACK_BUDGET = 256    # tokens per training sequence
PACK_BUCKET = 1024   # docs per prefix-sum bucket (contiguity unit)


def _pack_by(toks: DataFrame, ord_col: str, budget: int,
             bucket_docs: int) -> DataFrame:
    """Shared two-phase prefix-sum packer over (doc_id, n_tokens,
    ``ord_col``): buckets by ``floor(ord/bucket_docs)`` (only needs
    ord-monotone contiguous grouping, so any dense-or-gappy total
    order works), runs the within-bucket window partitioned, and
    broadcasts the tiny exclusive bucket offsets back."""
    toks = toks.withColumn(
        "bkt", F.floor(F.col(ord_col) / F.lit(bucket_docs))
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(ord_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = toks.withColumn("cum_in", F.sum("n_tokens").over(w_in))
    btot = toks.groupBy("bkt").agg(F.sum("n_tokens").alias("btot"))
    w_b = (
        Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = btot.select(
        "bkt", F.coalesce(F.sum("btot").over(w_b), F.lit(0)).alias("boff")
    )
    placed = within.join(F.broadcast(boff), "bkt")
    off = F.col("boff") + F.col("cum_in") - F.col("n_tokens")
    seq = F.floor(off / F.lit(budget))
    last = F.floor((off + F.col("n_tokens") - 1) / F.lit(budget))
    return placed.select(
        "doc_id",
        "n_tokens",
        off.cast("long").alias("tok_offset"),
        seq.cast("long").alias("seq_id"),
        (last - seq + 1).cast("long").alias("n_seqs"),
    )


def pack_sequences(docs: DataFrame, budget: int = PACK_BUDGET,
                   bucket_docs: int = PACK_BUCKET) -> DataFrame:
    """(doc_id, n_tokens, tok_offset, seq_id, n_seqs): each doc's
    placement in the packed token stream — its starting token offset,
    the training sequence its first token lands in
    (``floor(tok_offset / budget)``) and how many consecutive
    sequences it straddles. ``token_count`` is >= 1 for any string, so
    every doc occupies at least one sequence."""
    toks = docs.selectExpr("doc_id", f"{token_count('text')} AS n_tokens")
    return _pack_by(toks, "doc_id", budget, bucket_docs)


def epoch_pack(docs: DataFrame, seed: int = 1,
               budget: int = PACK_BUDGET,
               bucket_docs: int = PACK_BUCKET) -> DataFrame:
    """(doc_id, n_tokens, tok_offset, seq_id, n_seqs): the real epoch
    batch layout — docs laid end-to-end in the SEEDED SHUFFLE order
    (``operators/shuffle.epoch_shuffle``) and chunked into
    ``budget``-token training sequences. shuffle_pos is a dense rank,
    so the same range-bucketed prefix-sum plan applies verbatim; the
    shuffle and the pack each keep their one-tiny-frame
    SinglePartition bound, and the composition adds only the
    doc_id-keyed join between them."""
    from .shuffle import epoch_shuffle

    toks = docs.selectExpr(
        "doc_id", f"{token_count('text')} AS n_tokens"
    ).join(epoch_shuffle(docs, seed=seed), "doc_id")
    return _pack_by(toks, "shuffle_pos", budget, bucket_docs)


CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def chunk_documents(docs: DataFrame, chunk_tokens: int = CHUNK_TOKENS,
                    overlap: int = CHUNK_OVERLAP) -> DataFrame:
    """(doc_id, chunk_id, n_tokens, chunk_text): fixed-width token
    windows with overlap — the RAG/long-context chunking step that
    sits beside sequence packing in a training-data pipeline. Chunk k
    starts at token 1 + k·(chunk_tokens − overlap) and takes
    ``chunk_tokens`` tokens (the final chunk is shorter; a doc shorter
    than one stride yields exactly one chunk).

    Pure narrow map: split once, starts via a stepped ``sequence``,
    one ``transform``+``slice`` per chunk, a single explode — zero
    shuffle, the same array-expression recipe as the shingle stage.
    Both the chunk grid and the text are deterministic string algebra,
    so the DuckDB mirror reproduces rows byte-for-byte."""
    if overlap >= chunk_tokens:
        raise ValueError("chunk_documents: overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    arr = F.split(F.col("text"), " ")
    n = F.size(arr)
    chunks = F.transform(
        F.sequence(F.lit(1), n, F.lit(stride)),
        lambda s: F.struct(
            s.alias("start"),
            F.concat_ws(" ", F.slice(arr, s, chunk_tokens)).alias("txt"),
            F.least(n - s + 1, F.lit(chunk_tokens)).alias("nt"),
        ),
    )
    return (
        docs.where(F.size(arr) >= 1)
        .select("doc_id", F.posexplode(chunks).alias("pos", "c"))
        .select(
            "doc_id",
            (F.col("pos") + 1).alias("chunk_id"),
            F.col("c.nt").cast("long").alias("n_tokens"),
            F.col("c.txt").alias("chunk_text"),
        )
    )
