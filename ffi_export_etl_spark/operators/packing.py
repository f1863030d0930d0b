"""Sequence packing — map documents into fixed-capacity training windows.

Pretraining pipelines concatenate documents in a deterministic order into
one token stream and slice it into fixed-size training sequences
(documents may straddle a boundary). For each document this computes
where it lands: its global token offset and the range of sequence ids it
spans.

The core is a GLOBAL cumulative sum of token counts in a deterministic
order — the naive Window over a global ORDER BY collapses to a single
partition (a scale killer), so this uses the two-pass distributed shape:

  1. cumsum WITHIN deterministic blocks (id div block_size) — an
     ordinary partitioned window, fully parallel;
  2. per-block totals (one tiny aggregate, #blocks rows) turned into
     block prefix offsets with a window over the BLOCK table (single
     partition over #blocks rows, not N rows), broadcast-joined back.

Result is identical for any block_size (tested), so block_size is purely
a parallelism knob: pick ~(rows / cluster cores); the block-offset table
stays thousands of rows even at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BLOCK_SIZE = 100_000


def global_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """Adds ``cum`` = sum of ``value_col`` over all rows with
    ``order_col`` <= this row's (order_col must be unique), without a
    global single-partition sort."""
    # double divide + truncate is a monotone nondecreasing map of the
    # order key, which is all blocking needs (each block is a contiguous
    # key range, blocks ordered consistently with the key) — correct even
    # where double precision merges adjacent huge ids into one block
    blk = (F.col(order_col) / F.lit(block_size)).cast("long")
    w_in = (
        Window.partitionBy("_blk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = df.withColumn("_blk", blk).withColumn(
        "_cum_in", F.sum(F.col(value_col).cast("long")).over(w_in)
    )
    totals = (
        within.groupBy("_blk")
        .agg(F.sum(F.col(value_col).cast("long")).alias("_tot"))
    )
    w_blk = (
        Window.orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.withColumn(
        "_off", F.sum("_tot").over(w_blk) - F.col("_tot")
    ).select("_blk", "_off")
    return (
        within.join(F.broadcast(offsets), "_blk")
        .withColumn("cum", F.col("_cum_in") + F.col("_off"))
        .drop("_blk", "_cum_in")
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 512,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """(id, n_tokens, tok_offset, first_seq, offset_in_seq, last_seq):
    the document's position in the packed token stream when documents
    are concatenated in ``id_col`` order and sliced into
    ``capacity``-token training sequences (empty docs still count their
    single empty token, matching the whitespace tokenizer)."""
    n_tok = F.size(F.split(F.col(text_col), r"\s+"))
    with_cum = global_cumsum(
        docs.select(F.col(id_col).alias("id"), n_tok.alias("n_tokens")),
        "id",
        "n_tokens",
        block_size,
    )
    start = F.col("cum") - F.col("n_tokens")  # 0-based global token offset
    # first_seq/last_seq are LONG: an int32 id wraps past ~2^31
    # sequences, i.e. a few TB of text at capacity 512 — far below the
    # scale this module targets. offset_in_seq < capacity stays int.
    return with_cum.select(
        "id",
        "n_tokens",
        start.alias("tok_offset"),
        F.expr(f"(cum - n_tokens) div {capacity}").alias("first_seq"),
        ((F.col("cum") - F.col("n_tokens")) % capacity)
        .cast("int")
        .alias("offset_in_seq"),
        F.expr(f"(cum - 1) div {capacity}").alias("last_seq"),
    )
