"""Sequence packing — assign documents to fixed-token-budget training
chunks, the "concat then chunk" step every pretraining data pipeline
runs between curation and tokenizer output.

Documents are first placed in a deterministic pseudo-random order (the
md5 of the doc id — the standard pre-pack shuffle, content-addressed so
it is stable across runs and engines), then concatenated per shard and
cut every ``max_tokens`` tokens: a doc's chunk id is the chunk its FIRST
token lands in, and ``chunk_offset`` says where inside that chunk it
starts (a doc may spill into the next chunk; the offset + n_tok tells
the consumer exactly how). All arithmetic is integer → bit-identical
cross-engine, no rounding discipline needed.

Scale shape (10^12 docs): token counts are scan-side; the only shuffle
is the repartition-by-shard + in-shard sort that the window cumsum
needs, and shards are content-hash balanced, so every shard is
|corpus|/n_shards regardless of skew. A global (unsharded) order would
serialize the sort onto one task — that is exactly what ``n_shards``
exists to prevent; at 100 TB you size n_shards to the cluster, and each
shard's chunks are independent training data (order across shards never
mattered: the pre-pack shuffle already randomized it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_engineering_spark.functions.text import token_hash64, ws_token_count


def pack_chunks(
    docs: DataFrame,
    max_tokens: int = 512,
    n_shards: int = 8,
    text: str = "text",
    id_col: str = "doc_id",
    salt: str = "pack0",
) -> DataFrame:
    """Returns (id_col, shard, n_tok, chunk_id, chunk_offset) where
    chunk_id is globally unique (shard * 2^32 + in-shard chunk index).
    Tokens are whitespace tokens (size of split — measured faster than
    any regex variant, see CLAUDE.md); empty docs count 1 token (the
    empty string), mirroring split semantics on both engines."""
    h = token_hash64(F.concat_ws(":", F.lit(salt), F.col(id_col)))
    base = docs.select(
        F.col(id_col),
        ws_token_count(F.col(text)).cast("long").alias("n_tok"),
        (h % F.lit(n_shards)).alias("shard"),
        h.alias("__ord"),
    )
    w = Window.partitionBy("shard").orderBy("__ord", id_col)
    cum_excl = F.sum("n_tok").over(w) - F.col("n_tok")
    # integer `div`, never float floor-division: bit-identical to DuckDB's
    # `//` on BIGINT (CLAUDE.md integer-quantize discipline)
    return base.select(
        id_col, "shard", "n_tok", cum_excl.alias("__c")
    ).select(
        id_col,
        "shard",
        "n_tok",
        F.expr(f"shard * 4294967296 + __c div {max_tokens}").alias("chunk_id"),
        (F.col("__c") % F.lit(max_tokens)).alias("chunk_offset"),
    )
