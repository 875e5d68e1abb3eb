"""Streaming BPE encode against the frozen merge table must reproduce
the batch encoder exactly on the training corpus, and handle
out-of-vocabulary words with the char-level fallback."""

import json

from streamprocessing_with_kafka_spark.operators.bpe import bpe_encode
from streamprocessing_with_kafka_spark.sources.tables import load_table
from streamprocessing_with_kafka_spark.streaming.bpe_encode import (
    encode_batch_stream,
    encode_sink,
    frozen_word_lengths,
)

DOC_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)


def _canon(rows):
    return sorted(
        (r.doc_id, r.n_words, r.n_bpe_tokens, r.chars_per_token) for r in rows
    )


def test_stream_encode_matches_batch_on_training_corpus(spark, sf_dir, tmp_path):
    word_len = frozen_word_lengths(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    inp, ckpt, out = tmp_path / "docs", tmp_path / "ckpt", tmp_path / "enc"
    inp.mkdir()
    rows = docs.collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(inp / f"b{i}.json", "w") as f:
            for r in chunk:
                f.write(json.dumps(r.asDict()) + "\n")
    stream = spark.readStream.schema(DOC_SCHEMA).json(str(inp))
    q = (
        stream.writeStream.foreachBatch(encode_sink(word_len, str(out)))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain"
    got = spark.read.parquet(str(out)).drop("batch_id")
    assert _canon(got.collect()) == _canon(bpe_encode(spark, sf_dir).collect())


def test_oov_words_fall_back_to_char_segmentation(spark, sf_dir):
    word_len = frozen_word_lengths(spark, sf_dir)
    batch = spark.createDataFrame(
        [(1, "zzzqqqxxx", "en", "src0", 9)], DOC_SCHEMA
    )
    r = encode_batch_stream(batch, word_len).collect()[0]
    # unseen word: |chars| + 1 (</w>) tokens, never dropped
    assert (r.n_words, r.n_bpe_tokens) == (1, 10)
