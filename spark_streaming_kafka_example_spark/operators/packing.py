"""Sequence packing for LLM training-data prep: assign documents to
fixed-capacity token sequences.

Two standard strategies, both deterministic so the oracle gate covers them:

- **Chunked** (GPT-style concat-and-chunk): conceptually concatenate all
  docs of a shard in order and cut every ``cap`` tokens; a doc may straddle
  a cut. Pure window arithmetic (a running token sum), no custom state —
  stays entirely in whole-stage codegen. See plans/textprep.py.
- **Greedy** (no-straddle first-fit-in-order): walk the shard's docs in
  order, appending to the current sequence until the next doc would
  overflow ``cap``, then start a new one. Docs never split; sequences may
  have tail slack. This is inherently sequential per shard — exactly the
  "operator Spark lacks" case — so it runs as an Arrow-batched
  ``applyInPandas`` over the shard key: one shuffle on the shard, O(1)
  Python state per shard, no driver involvement.

Scale: shards (``source`` here; a path/date prefix on a real corpus) are
the packing unit precisely so no global order is needed — each shard packs
independently and in parallel, and the pandas group is one shard's doc
*sizes*, not its text. A shard with more docs than executor memory should
be subdivided upstream (e.g. salt on doc_id ranges); packing quality only
depends on intra-shard order, which subdivision preserves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["pack_greedy"]


def pack_greedy(
    df: DataFrame,
    cap: int,
    shard_col: str = "source",
    order_col: str = "doc_id",
    size_col: str = "n_tok",
) -> DataFrame:
    """(shard, order, size) -> (shard, order, size, seq_id): greedy
    no-straddle packing per shard. ``seq_id`` numbers sequences from 0
    within each shard, in ``order_col`` order. A doc larger than ``cap``
    gets a sequence of its own (callers should truncate upstream)."""
    if cap < 1:
        raise ValueError("cap must be >= 1")

    import pandas as pd

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        seq_ids = []
        seq, fill = 0, 0
        for n in pdf[size_col]:
            if fill > 0 and fill + n > cap:
                seq, fill = seq + 1, 0
            seq_ids.append(seq)
            fill += n
        pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
        return pdf

    slim = df.select(shard_col, order_col, size_col)
    # Output schema = input fields verbatim + seq_id, so non-default shard/
    # order/size column types (int shard keys, int32 sizes) round-trip
    # instead of silently assuming string/long.
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(list(slim.schema.fields) + [StructField("seq_id", LongType())])
    return slim.groupBy(shard_col).applyInPandas(pack, schema)
