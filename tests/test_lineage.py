"""One-shot checkpoints are freed under the driver contract.

Operators that share a frame within one query register an eager
`localCheckpoint` with `functions/lineage.ephemeral_local_checkpoint`.
The external driver never calls `drain_ephemeral_checkpoints()`, so
`__spark_entry__.queries()` drains the previous query's entries when the
next query is built; without that, every checkpoint stayed pinned in
executor storage for the whole session.
"""

import __spark_entry__ as entry
from streamprocessing_with_kafka_spark.functions.lineage import drain_ephemeral_checkpoints


def _stored_rdds(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_building_the_next_query_frees_the_previous_checkpoints(spark, sf_dir):
    drain_ephemeral_checkpoints()
    queries = entry.queries()
    before = _stored_rdds(spark)

    queries["dedup_ngram_jaccard"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    pinned = _stored_rdds(spark) - before
    assert pinned, "the dedup query should hold a checkpointed shingle frame"

    queries["agg_pricing_summary"](spark, sf_dir)
    assert not pinned & _stored_rdds(spark)
