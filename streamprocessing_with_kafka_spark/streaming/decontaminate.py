"""Streaming benchmark decontamination: gate an INGEST stream of
documents against a static evaluation-set n-gram dictionary -- the
incremental twin of operators/decontaminate.py.

Production shape: the benchmark corpus is fixed long before ingest, so
its distinct hashed n-grams ship to every executor ONCE as a Spark
broadcast (thousands of benchmark docs -> a few MB of 64-bit hashes; the
same sliver-vs-corpus argument as the batch broadcast join). Each
arriving document is then scored in a STATELESS Arrow-batched
mapInPandas pass -- no join, no shuffle, no streaming state at all,
which is the cheapest legal shape for a per-row gate whose reference
data is static.

Convergence contract: tokenization (distinct word NGRAM_N-grams) and
hashing (md5 -> 60-bit int) are definitionally identical to the batch
operator, so scoring the same documents through the stream yields the
batch `decontaminate` answer row-for-row (pinned in
tests/test_streaming_decontam.py). Like the batch op, documents shorter
than NGRAM_N tokens produce no row, and eval-slice members are not
scored.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.operators.decontaminate import (
    CONTAM_FRAC,
    EVAL_MOD,
    NGRAM_N,
)
from streamprocessing_with_kafka_spark.functions.hashing import md5_long
from streamprocessing_with_kafka_spark.operators.dedup import word_ngram_rows
from streamprocessing_with_kafka_spark.sources.tables import load_table

OUTPUT_SCHEMA = (
    "doc_id BIGINT, n_ngrams BIGINT, n_hits BIGINT, "
    "contamination_frac DOUBLE, is_contaminated BOOLEAN"
)


def eval_gram_hashes(spark: SparkSession, sf_dir: str) -> set[int]:
    """The static eval-set dictionary: distinct 60-bit hashes of the eval
    slice's word n-grams, built ONCE with the batch operator's own
    shingling so stream and batch agree definitionally."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % EVAL_MOD == 0
    )
    grams = word_ngram_rows(docs, NGRAM_N).select(
        md5_long(F.col("gram")).alias("gh")
    )
    return {r.gh for r in grams.distinct().collect()}


def _gram_hashes_py(text: str) -> set[int]:
    """Python twin of word_ngram_rows + md5_long for one document."""
    w = text.split(" ")
    out = set()
    for i in range(len(w) - NGRAM_N + 1):
        gram = " ".join(w[i : i + NGRAM_N])
        out.add(int(hashlib.md5(gram.encode()).hexdigest()[:15], 16))
    return out


def streaming_decontaminate(docs: DataFrame, eval_hashes) -> DataFrame:
    """Score a document stream against a broadcast eval dictionary.

    `eval_hashes` is a `sparkContext.broadcast(set_of_hashes)` handle (or
    a plain set in tests): one copy per executor, shared by every batch.
    Output mode append; one row per scoreable non-eval document."""

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ev = eval_hashes.value if hasattr(eval_hashes, "value") else eval_hashes
        for pdf in batches:
            rows = {
                "doc_id": [],
                "n_ngrams": [],
                "n_hits": [],
                "contamination_frac": [],
                "is_contaminated": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if int(doc_id) % EVAL_MOD == 0:
                    continue
                if not isinstance(text, str):
                    # NULL-text docs have no n-gram rows in the batch
                    # plan either (explode emits nothing) -- and
                    # None.split would raise (r9 mixed-nulls twin audit)
                    continue
                grams = _gram_hashes_py(text)
                if not grams:
                    continue
                hits = sum(1 for g in grams if g in ev)
                frac = hits / len(grams)
                rows["doc_id"].append(int(doc_id))
                rows["n_ngrams"].append(len(grams))
                rows["n_hits"].append(hits)
                # HALF_UP like Spark's round() -- Python's round() is
                # half-even and diverges on 7th-decimal .5 boundaries
                # (e.g. 1/128 = 0.0078125)
                rows["contamination_frac"].append(
                    math.floor(frac * 1_000_000 + 0.5) / 1_000_000
                )
                rows["is_contaminated"].append(frac >= CONTAM_FRAC)
            yield pd.DataFrame(rows)

    return docs.select("doc_id", "text").mapInPandas(score, OUTPUT_SCHEMA)


# ---------------------------------------------- fuzzy (near-dup) gate

#: streaming twin of operators/decontaminate.decontaminate_fuzzy -- the
#: MinHash near-dup contamination check as a STATELESS pure-expression
#: gate: the eval corpus's band index and shingle sets ship once as a
#: 1-row static frame of map columns; each arriving document computes
#: its signature and band keys as per-row array expressions
#: (streaming/minhash_dedup's narrow form, proven bit-identical to the
#: batch signatures), looks its bands up in the map, and verifies the
#: few candidates with an exact array-intersection Jaccard. No Python,
#: no join of the stream, no shuffle, no state.

from pyspark.sql import SparkSession  # noqa: E402

from streamprocessing_with_kafka_spark.operators.decontaminate import (  # noqa: E402
    FUZZY_THRESHOLD,
)
from streamprocessing_with_kafka_spark.operators.dedup import (  # noqa: E402
    BANDS,
    PERMS,
    ROWS_PER_BAND,
    SHINGLE_N,
    _band_keys,
    _shingles_with_count,
    _signature_agg,
)


def fuzzy_eval_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen eval-side index as ONE static row:
    (band_map map<'band|key', array<eval_doc>>,
     set_map  map<eval_doc, array<shingle_hash>>).

    Built with the batch operator's own shingling/signature/banding code
    so stream and batch agree definitionally; the eval corpus is a
    sliver, so both maps broadcast. The row takes its own stream-
    lifetime checkpoint (functions/lineage.py)."""
    sh = _shingles_with_count(spark, sf_dir)
    ev_sh = sh.filter(F.col("doc_id") % EVAL_MOD == 0)
    bands = _band_keys(_signature_agg(ev_sh))
    band_map = (
        bands.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.concat_ws(
                            "|", F.col("band").cast("string"), F.col("band_key")
                        ).alias("k"),
                        F.col("docs").alias("v"),
                    )
                )
            ).alias("band_map")
        )
    )
    set_map = (
        ev_sh.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("_h")).alias("hs"))
        .groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("doc_id", "hs"))
            ).alias("set_map")
        )
    )
    return band_map.crossJoin(F.broadcast(set_map)).localCheckpoint()


def streaming_fuzzy_gate(docs: DataFrame, model: DataFrame) -> DataFrame:
    """(doc_id, eval_doc_id, jaccard): fuzzy-contamination pairs for a
    document stream, schema and values identical to the batch
    `decontaminate_fuzzy` for the same input rows.

    Everything is computed ON the arriving row (no join of the stream,
    which streaming would reject as stream-stream): distinct gram strings
    -> hashes -> per-permutation array-min signature (the minhash_dedup
    narrow form, bit-identical to the batch groupBy mins) -> band keys ->
    band-map lookups give the candidate eval docs -> exact
    array-intersection Jaccard against the broadcast shingle sets. Docs
    shorter than SHINGLE_N tokens have no shingles and no row, exactly
    like the batch explode."""
    from streamprocessing_with_kafka_spark.functions.hashing import (
        family_hash_one,
    )

    def _mh(p):  # factory: F.transform treats 2-arg lambdas as (elem, idx)
        return F.array_min(
            F.transform(F.col("_gh"), lambda h: family_hash_one(h, p, PERMS))
        )

    w = F.split(F.col("text"), " ")
    gram_strs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (SHINGLE_N - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + k) for k in range(SHINGLE_N)]
            ),
        )
    )
    base = (
        docs.filter(F.col("doc_id") % EVAL_MOD != 0)
        .filter(F.size(w) >= SHINGLE_N)
        .withColumn("_gh", F.transform(gram_strs, lambda s: md5_long(s)))
        .withColumns({f"mh{p}": _mh(p) for p in range(PERMS)})
        .crossJoin(model)
    )
    band_key = lambda b: F.md5(  # noqa: E731
        F.concat_ws(
            ",",
            *[
                F.col(f"mh{p}").cast("string")
                for p in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
            ],
        )
    )
    cands = F.array_distinct(
        F.flatten(
            F.array(
                *[
                    F.coalesce(
                        F.element_at(
                            "band_map",
                            F.concat_ws("|", F.lit(str(b)), band_key(b)),
                        ),
                        F.array().cast("array<bigint>"),
                    )
                    for b in range(BANDS)
                ]
            )
        )
    )
    ev_set = F.element_at("set_map", F.col("_e"))
    inter = F.size(F.array_intersect(F.col("_gh"), ev_set))
    jac = F.round(
        inter / (F.size(F.col("_gh")) + F.size(ev_set) - inter).cast("double"), 6
    )
    return (
        base.select("doc_id", "_gh", "set_map", F.explode(cands).alias("_e"))
        .select("doc_id", F.col("_e").alias("eval_doc_id"), jac.alias("jaccard"))
        .filter(F.col("jaccard") >= FUZZY_THRESHOLD)
    )
