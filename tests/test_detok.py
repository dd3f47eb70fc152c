"""Detokenization round-trip + token-equality invariant
(BASELINE.json input_hint)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fluent_bit_spark import fixtures as fx
from fluent_bit_spark.functions.detok import _detok_chunk, \
    tokens_fingerprint
from fluent_bit_spark.functions.parsers import fused_detok_parse


def test_detok_matches_independent_decode(spark, tokens_df, fixture_paths):
    from tests.oracle_pandas import decode_row
    v = fx.vocab()
    sample = tokens_df.limit(200)
    got = {r.doc_id: r.decoded
           for r in fused_detok_parse(sample, spark, v).collect()}
    for r in sample.collect():
        assert got[r.doc_id] == decode_row(r.tokens, v)


def test_tokens_invariant_through_pipeline(spark, tokens_df):
    """tokens must be byte-identical after decode+parse (transforms only
    add columns)."""
    v = fx.vocab()
    before = tokens_df.select("doc_id",
                              tokens_fingerprint().alias("h_before"))
    after = fused_detok_parse(tokens_df, spark, v) \
        .select("doc_id", "decoded",
                tokens_fingerprint().alias("h_after"))
    # a NULL decoded counts too, which keeps the parse UDF in the plan
    diff = (before.join(after, "doc_id")
            .filter((F.col("h_before") != F.col("h_after"))
                    | F.col("decoded").isNull()).count())
    assert diff == 0
    # and the arrays themselves, not just hashes, on a sample
    rows = fused_detok_parse(tokens_df.limit(50), spark, v) \
        .select("tokens", "n_tok").collect()
    for r in rows:
        assert len(r.tokens) == r.n_tok


def test_detok_chunk_decodes_a_sliced_list_array():
    """A sliced ListArray (offset > 0) decodes like the same rows of the
    unsliced array; a null list decodes to an empty string."""
    import pyarrow as pa
    vocab = pa.array(fx.vocab(), type=pa.string())
    a = pa.array([[0, 1], [2], None, [3, 3, 0], []], pa.list_(pa.int32()))
    whole = _detok_chunk(a, vocab)
    assert whole[2].as_py() == ""
    for offset, length in ((1, 4), (2, 2), (3, 1), (5, 0)):
        assert _detok_chunk(a.slice(offset, length), vocab) \
            == whole.slice(offset, length)
