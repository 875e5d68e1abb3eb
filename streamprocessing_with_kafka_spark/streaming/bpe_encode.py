"""Streaming BPE encode: the frozen-model ingest twin of
`operators/bpe.bpe_encode` (the pq_ingest / ivf_ingest shape: train
offline, freeze the artifact, apply at scan speed to arriving data).

The trained segmentation is the word -> |symbols| map produced by the
SAME `_train` loop the batch operators run; it joins each micro-batch
as a STATIC frame (stream-static equi-join -- no streaming state at
all), and the per-document token sum is a plain in-batch aggregate.
Per-batch semantics by design: a document is encoded from the batch
that carries it (documents arrive whole; cross-batch doc fragments are
an upstream framing bug, not an encoder concern).  Out-of-vocabulary
words (absent from the frozen map -- impossible when encoding the
training corpus, routine on live traffic) fall back to their
character count + 1 (the untrained char-level segmentation with the
</w> marker), so the encoder never drops tokens silently.

A batch equal to the training corpus reproduces the batch operator's
rows bit-for-bit (tests/test_streaming_bpe.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.operators.bpe import _train
from streamprocessing_with_kafka_spark.operators.text import _tokens


def frozen_word_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train on the corpus at sf_dir and freeze word -> n_syms, with its
    own stream-lifetime checkpoint (functions/lineage.py)."""
    trained, _ = _train(spark, sf_dir)
    return trained.select("word", F.size("syms").alias("n_syms")).localCheckpoint()


def encode_batch_stream(docs: DataFrame, word_len: DataFrame) -> DataFrame:
    """Per-document (n_words, n_bpe_tokens, chars_per_token) over a
    streaming documents frame, against the frozen static map."""
    doc_words = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.explode(_tokens()).alias("word"),
    ).filter(F.length("word") > 0)
    joined = doc_words.join(word_len, "word", "left").withColumn(
        "n_syms",
        F.coalesce(F.col("n_syms"), F.length("word") + F.lit(1)),
    )
    return (
        joined.groupBy("doc_id", "n_chars")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_chars").cast("double")
                / F.col("n_bpe_tokens").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
    )


def encode_sink(word_len: DataFrame, out_dir: str):
    """foreachBatch fn appending encoded per-doc rows to a parquet log."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        encode_batch_stream(batch, word_len).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(out_dir)

    return write_batch
