"""Streaming PQ ingest: encode arriving embedding vectors to their
product-quantization codes -- the index-maintenance twin of the batch
encode stage inside operators/similarity.ann_topk_pq.

Production shape mirrors `ivf_ingest`: codebooks are trained offline
(`pq_trained_codebook`) and FROZEN between refits, shipping once as a
1-row static frame of (m, code, cv) structs; each arriving vector
computes all PQ_M codes with per-row folds over that array -- no
Python, no join of the stream, no shuffle, no state.  The encoded
(vec_id, codes[PQ_M]) row is what lands in the compressed ANN index:
16 bytes per vector, searchable by the ADC scan the moment it lands.

The per-subspace fold is the SAME `_pq_best_code` the batch encoder
uses (one code path, two execution modes), so tie behavior and 6dp
distance quantization match exactly; convergence is pinned in
tests/test_streaming_pq.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.operators.similarity import (
    PQ_M,
    _pq_best_code,
    _pq_codebook_row,
    _pq_sub,
    is_index_member,
    pq_trained_codebook,
)


def pq_codebook_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen trained codebook as ONE static row -- shared with the
    batch operator, so batch and stream encode from definitionally
    identical models; it takes its own stream-lifetime checkpoint
    (functions/lineage.py)."""
    return _pq_codebook_row(pq_trained_codebook(spark, sf_dir)).localCheckpoint()


def streaming_pq_encode(vecs: DataFrame, model: DataFrame) -> DataFrame:
    """(vec_id, codes): the PQ_M 4-bit codes for a vector stream as one
    int array column, value-identical to the batch encode for the same
    rows.  All PQ_M sub-vector argmins evaluate inside ONE projection
    (a transform over the subspace index), so the stream encodes at
    scan speed.

    The ingest gate mirrors the batch clean scan (r9 policy): a vector
    that is NULL, carries a NULL component, or has no vec_id identity
    never enters the index (r10: is_index_member) --
    the compressed index must hold only codes the batch encoder would
    also have produced."""
    v = F.col("embedding").cast("array<double>")
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: _pq_best_code(_pq_sub(v, m), m),
    )
    return (
        vecs.filter(is_index_member(F.col("vec_id"), F.col("embedding")))
        .crossJoin(model)
        .select("vec_id", codes.alias("codes"))
    )
