"""Streaming decontamination twin: scoring the corpus through the
broadcast-dictionary mapInPandas gate must reproduce the batch operator
row-for-row, across micro-batches, with zero streaming state."""

import json
import math

from streamprocessing_with_kafka_spark.operators.decontaminate import (
    decontaminate,
)
from streamprocessing_with_kafka_spark.sources.tables import load_table
from streamprocessing_with_kafka_spark.streaming.curation import (
    file_document_stream,
)
from streamprocessing_with_kafka_spark.streaming.decontaminate import (
    eval_gram_hashes,
    streaming_decontaminate,
)


def test_streaming_decontam_converges_to_batch(spark, sf_dir, tmp_path):
    rows = [
        r.asDict()
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .collect()
    ]
    inp, ckpt = tmp_path / "docs", tmp_path / "ckpt"
    inp.mkdir()
    per = math.ceil(len(rows) / 3)
    for b in range(3):
        with open(inp / f"b{b}.json", "w") as f:
            for r in rows[b * per : (b + 1) * per]:
                f.write(json.dumps(r) + "\n")
    ev = spark.sparkContext.broadcast(eval_gram_hashes(spark, sf_dir))
    q = (
        streaming_decontaminate(file_document_stream(spark, str(inp)), ev)
        .writeStream.format("memory")
        .queryName("decontam_stream")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain"
    streamed = {
        r.doc_id: (r.n_ngrams, r.n_hits, r.contamination_frac, r.is_contaminated)
        for r in spark.sql("SELECT * FROM decontam_stream").collect()
    }
    batch = {
        r.doc_id: (r.n_ngrams, r.n_hits, r.contamination_frac, r.is_contaminated)
        for r in decontaminate(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_streaming_decontam_is_stateless_plan(spark, sf_dir):
    """The gate must stay a narrow mapInPandas over the stream -- no
    aggregation, no stateful operator, no shuffle (batch-mode plan of the
    same transformation shows the shape)."""
    ev = eval_gram_hashes(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    plan = (
        streaming_decontaminate(d, ev)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
    )
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_streaming_fuzzy_gate_converges_to_batch(spark, sf_dir, tmp_path):
    """The pure-expression fuzzy gate must reproduce decontaminate_fuzzy's
    pair set (doc, eval_doc, jaccard) exactly when the corpus streams
    through in micro-batches."""
    import json as _json
    import math as _math

    from streamprocessing_with_kafka_spark.operators.decontaminate import (
        decontaminate_fuzzy,
    )
    from streamprocessing_with_kafka_spark.streaming.decontaminate import (
        fuzzy_eval_model,
        streaming_fuzzy_gate,
    )

    rows = [
        r.asDict()
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .collect()
    ]
    inp, ckpt = tmp_path / "docs", tmp_path / "ckpt"
    inp.mkdir()
    per = _math.ceil(len(rows) / 3)
    for b in range(3):
        with open(inp / f"b{b}.json", "w") as f:
            for r in rows[b * per : (b + 1) * per]:
                f.write(_json.dumps(r) + "\n")
    model = fuzzy_eval_model(spark, sf_dir)
    q = (
        streaming_fuzzy_gate(file_document_stream(spark, str(inp)), model)
        .writeStream.format("memory")
        .queryName("fuzzy_stream")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain"
    streamed = {
        (r.doc_id, r.eval_doc_id): r.jaccard
        for r in spark.sql("SELECT * FROM fuzzy_stream").collect()
    }
    batch = {
        (r.doc_id, r.eval_doc_id): r.jaccard
        for r in decontaminate_fuzzy(spark, sf_dir).collect()
    }
    assert streamed == batch and batch  # identical and non-vacuous


def test_streaming_fuzzy_gate_is_pure_expression(spark, sf_dir):
    from streamprocessing_with_kafka_spark.streaming.decontaminate import (
        fuzzy_eval_model,
        streaming_fuzzy_gate,
    )

    model = fuzzy_eval_model(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    plan = (
        streaming_fuzzy_gate(d, model)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
    )
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan
    assert "Exchange hash" not in plan, plan


def test_streaming_decontam_skips_null_text_docs(spark, tmp_path):
    """NULL-text docs have no n-gram rows in the batch plan (explode
    emits nothing), so the stream must skip them -- pre-fix None.split
    raised inside the scoring gate (r9 mixed-nulls twin audit)."""
    rows = [
        {"doc_id": 11, "text": None, "lang": "en", "source": "a", "n_chars": 0},
        {"doc_id": 13, "text": "alpha beta gamma delta epsilon zeta eta",
         "lang": "en", "source": "a", "n_chars": 39},
    ]
    inp, ckpt = tmp_path / "docs", tmp_path / "ckpt"
    inp.mkdir()
    with open(inp / "b0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    q = (
        streaming_decontaminate(file_document_stream(spark, str(inp)), set())
        .writeStream.format("memory")
        .queryName("decontam_nulls")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain"
    got = spark.sql("SELECT * FROM decontam_nulls").collect()
    assert [r.doc_id for r in got] == [13]  # NULL-text doc absent, no crash
