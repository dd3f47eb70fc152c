"""Detokenization: tokens:array<int32> → decoded:string.

Graft-specific boundary operator (SURVEY.md §2.2 "tokenizer boundary"):
the reference consumes raw log lines; our input is pre-tokenized training
sequences, so the raw line is reconstructed by a deterministic vocab
lookup before regex parsing.

Implementation is pure Arrow compute inside the parse ``arrow_udf``
(``functions/parsers.fused_detok_parse``): the token ListArray's flat
values are gathered through the broadcast vocab with ``Array.take`` and
re-joined per row with ``pc.binary_join`` — both C++ kernels, no
per-row Python. The token column is only read, so the token-array
equality invariant holds trivially (transforms only add columns).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F


def _detok_chunk(arr: pa.Array, vocab_arr: pa.Array) -> pa.Array:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    # gather pieces for the flat values, rebuild list structure, join;
    # flatten() starts at the slice's first value, so the offsets of a
    # sliced array are rebased to start at 0 as well
    flat = arr.flatten()
    pieces = vocab_arr.take(flat)
    offsets = pc.subtract(arr.offsets, arr.offsets[0])
    lists = pa.ListArray.from_arrays(offsets, pieces)
    return pc.binary_join(lists, pa.scalar(""))


def tokens_fingerprint(tokens_col: str = "tokens") -> Column:
    """Order-sensitive 64-bit fingerprint of a token array, used by the
    invariant test (tokens byte-identical across the pipeline)."""
    return F.xxhash64(F.to_json(F.col(tokens_col)))
