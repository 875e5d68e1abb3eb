"""Streaming PQ ingest: the per-row subspace fold-argmin encode must
reproduce the batch encode exactly (same `_pq_best_code` fold, same
ties), with zero Python/shuffle/state on the encode path."""

import json
import math

from pyspark.sql import functions as F

from streamprocessing_with_kafka_spark.operators.similarity import (
    _pq_assign,
    _pq_subspaces,
    pq_trained_codebook,
)
from streamprocessing_with_kafka_spark.sources.tables import load_table
from streamprocessing_with_kafka_spark.streaming.pq_ingest import (
    pq_codebook_model,
    streaming_pq_encode,
)

VEC_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


def _batch_codes(spark, sf_dir):
    cb = pq_trained_codebook(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = _pq_assign(_pq_subspaces(e), cb)
    return {
        (r.vec_id, r.m): r.code
        for r in assigned.select("vec_id", "m", "code").collect()
    }


def test_streaming_pq_encode_converges_to_batch(spark, sf_dir, tmp_path):
    rows = [
        {"vec_id": r.vec_id, "embedding": [float(x) for x in r.embedding],
         "label": r.label}
        for r in load_table(spark, sf_dir, "embeddings").collect()
    ]
    inp, ckpt = tmp_path / "vecs", tmp_path / "ckpt"
    inp.mkdir()
    per = math.ceil(len(rows) / 3)
    for b in range(3):
        with open(inp / f"b{b}.json", "w") as f:
            for r in rows[b * per : (b + 1) * per]:
                f.write(json.dumps(r) + "\n")
    model = pq_codebook_model(spark, sf_dir)
    stream = spark.readStream.schema(VEC_SCHEMA).json(str(inp))
    q = (
        streaming_pq_encode(stream, model)
        .writeStream.format("memory")
        .queryName("pq_stream")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain"
    streamed = {
        (r.vec_id, m): c
        for r in spark.sql("SELECT * FROM pq_stream").collect()
        for m, c in enumerate(r.codes)
    }
    assert streamed == _batch_codes(spark, sf_dir) and streamed


def test_streaming_pq_encode_is_pure_expression(spark, sf_dir):
    model = pq_codebook_model(spark, sf_dir)
    vecs = load_table(spark, sf_dir, "embeddings")
    plan = (
        streaming_pq_encode(vecs, model)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
    )
    # one broadcast attach of the 1-row model; nothing else moves
    assert "Exchange hash" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_streaming_pq_ingest_gate_drops_corrupt_vectors(spark, sf_dir):
    """The ingest gate is the streaming twin of the batch clean scan
    (r9 policy): corrupt vectors must not land codes in the compressed
    index."""
    model = pq_codebook_model(spark, sf_dir)
    vecs = spark.createDataFrame(
        [
            (0, [0.1] * 64, 0),
            (1, None, 0),
            (2, [None] + [0.1] * 63, 0),
        ],
        VEC_SCHEMA,
    )
    got = streaming_pq_encode(vecs, model).collect()
    assert [r.vec_id for r in got] == [0]
    assert len(got[0].codes) > 0
