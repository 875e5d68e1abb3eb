"""Checkpoints are freed at the query boundary under the driver contract.

Every checkpoint on the batch query path goes through
`functions/lineage.local_checkpoint`, which registers it for
`drain_ephemeral_checkpoints()`. The external driver never calls the
drain itself, so `__spark_entry__.queries()` drains the previous
query's checkpoints when the next query is built; without that, they
stayed pinned in executor storage for the whole session. Frozen models
a stream reads must outlive that drain, so they take their own
checkpoint.
"""

import pytest

import __spark_entry__ as entry
from streamprocessing_with_kafka_spark.functions.lineage import drain_ephemeral_checkpoints
from streamprocessing_with_kafka_spark.sources.tables import load_table
from streamprocessing_with_kafka_spark.streaming.bpe_encode import (
    encode_batch_stream,
    frozen_word_lengths,
)
from streamprocessing_with_kafka_spark.streaming.decontaminate import (
    fuzzy_eval_model,
    streaming_fuzzy_gate,
)
from streamprocessing_with_kafka_spark.streaming.pq_ingest import (
    pq_codebook_model,
    streaming_pq_encode,
)

DOC_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
VEC_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


def _stored_rdds(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard",
        "dedup_cluster_keepers",
        "graph_pagerank",
        "agg_abc_parts",
        "text_bpe_train",
        "embedding_pca_power",
        "events_survival_km",
    ],
)
def test_building_the_next_query_frees_the_previous_checkpoints(spark, sf_dir, name):
    drain_ephemeral_checkpoints()
    queries = entry.queries()
    before = _stored_rdds(spark)

    queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    pinned = _stored_rdds(spark) - before
    assert pinned, f"{name} should hold a checkpointed frame"

    queries["agg_pricing_summary"](spark, sf_dir)
    assert not pinned & _stored_rdds(spark)


@pytest.mark.parametrize(
    "build_model, transform, table, schema",
    [
        (frozen_word_lengths, encode_batch_stream, "documents", DOC_SCHEMA),
        (pq_codebook_model, streaming_pq_encode, "embeddings", VEC_SCHEMA),
        (fuzzy_eval_model, streaming_fuzzy_gate, "documents", DOC_SCHEMA),
    ],
    ids=["bpe", "pq", "fuzzy_decontam"],
)
def test_stream_models_outlive_the_query_boundary_drain(
    spark, sf_dir, tmp_path, build_model, transform, table, schema
):
    model = build_model(spark, sf_dir)
    drain_ephemeral_checkpoints()

    inp = str(tmp_path / "in")
    load_table(spark, sf_dir, table).write.json(inp)
    rows = []
    q = (
        spark.readStream.schema(schema)
        .json(inp)
        .writeStream.foreachBatch(lambda batch, _: rows.extend(transform(batch, model).collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain"
    assert rows
