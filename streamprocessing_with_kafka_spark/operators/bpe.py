"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") -- the merge-
table learning step an LLM data pipeline runs over its own corpus so
the tokenizer matches the data distribution.

BPE is inherently iterative (each merge changes the pair counts the
next round sees), so it gets the repo's de-recursion treatment for
iterative algorithms (k-means / PageRank pattern): FIXED UNROLLED
ROUNDS, `localCheckpoint` between rounds to cut lineage, and exact
integer/string state so every round is bit-identical across engines
and partition layouts -- no floats anywhere in this operator.

Scale design: the corpus is touched ONCE (word-frequency aggregate);
every round after that operates on the VOCABULARY frame (|distinct
words|, millions at 100 TB -- not the corpus), with the winning pair
attached via an in-plan 1-row broadcast.  Per round: one bounded
(symbol, symbol) pair-count shuffle + one argmin on the pair frame +
one narrow fold-merge projection.  The greedy left-to-right non-
overlapping merge ("aaa" + merge(a,a) -> [aa, a]) is a single
`F.aggregate` fold over each word's symbol array -- in-plan, no
Python -- and DuckDB's `list_reduce` implements the identical left
fold, which is what makes the oracle exact.

Words carry the classic `</w>` end-of-word marker so merges can learn
word-final units; ties on pair count break lexicographically
(deterministic in both engines).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from streamprocessing_with_kafka_spark.functions.lineage import (
    free_local_checkpoint,
    local_checkpoint,
)
from streamprocessing_with_kafka_spark.functions.numeric import round_sql
from streamprocessing_with_kafka_spark.operators.text import _tokens
from streamprocessing_with_kafka_spark.sources.tables import load_table

BPE_ROUNDS = 3
EOW = "</w>"


def _merge_fold(best_a, best_b):
    """Left fold replacing every non-overlapping adjacent (best_a,
    best_b) with the concatenated symbol -- greedy left-to-right, the
    BPE application rule."""
    empty = F.expr("CAST(array() AS array<string>)")

    def step(acc, x):
        return F.when(
            (F.size(acc) > 0)
            & (F.try_element_at(acc, F.lit(-1)) == best_a)
            & (x == best_b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.try_element_at(acc, F.lit(-1)), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return lambda syms: F.aggregate(syms, empty, step)


def _train(spark: SparkSession, sf_dir: str):
    """Shared training loop: returns (final symbol table, merge-row
    frames) -- bpe_train emits the merges, bpe_encode consumes the
    trained per-word segmentation."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_tokens()).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    cur = local_checkpoint(
        vocab.select("word", "freq", F.concat(chars, F.array(F.lit(EOW))).alias("syms"))
    )

    merge_rows = []
    for rnd in range(1, BPE_ROUNDS + 1):
        # fully-merged single-symbol words emit no pairs; without the
        # guard sequence(1, 0) runs DESCENDING in Spark and indexes
        # past the array (DuckDB's range(1, 1) is already empty)
        pairs = cur.filter(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("syms"), i).alias("a"),
                        F.element_at(F.col("syms"), i + F.lit(1)).alias("b"),
                    ),
                )
            ).alias("p"),
        ).groupBy("p.a", "p.b").agg(F.sum("freq").alias("cnt"))
        # argmax by count, lexicographic (a, b) tie-break: min of the
        # (-cnt, a, b) struct -- one deterministic aggregate, no sort
        best = local_checkpoint(
            pairs.agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg"),
                        F.col("a"),
                        F.col("b"),
                    )
                ).alias("m")
            ).select(
                F.col("m.a").alias("best_a"),
                F.col("m.b").alias("best_b"),
                (-F.col("m.neg")).alias("cnt"),
            )
        )
        # on an empty corpus (or a fully-merged vocabulary) `pairs` is
        # empty and the global-min aggregate emits one all-NULL row;
        # the oracle's ORDER BY ... LIMIT 1 emits nothing -- drop the
        # phantom merge from the emitted table (the fold below keeps
        # the unfiltered frame: folding with NULL pair matches nothing)
        merge_rows.append(
            best.filter(F.col("best_a").isNotNull()).select(
                F.lit(rnd).alias("round"),
                F.col("best_a").alias("pair_a"),
                F.col("best_b").alias("pair_b"),
                F.concat("best_a", "best_b").alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        fold = _merge_fold(F.col("best_a"), F.col("best_b"))
        prev, cur = cur, local_checkpoint(
            cur.crossJoin(F.broadcast(best)).select(
                "word", "freq", fold(F.col("syms")).alias("syms")
            )
        )
        free_local_checkpoint(prev)  # superseded round's blocks
    return cur, merge_rows


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first BPE_ROUNDS merges over the documents corpus.

    Output: (round, pair_a, pair_b, merged, pair_count) -- the ordered
    merge table, i.e. the trained tokenizer artifact."""
    _, merge_rows = _train(spark, sf_dir)
    return reduce(lambda a, b: a.unionByName(b), merge_rows)


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the corpus-trained tokenizer: per-doc
    BPE token count and chars-per-token compression -- the fertility
    metric that says whether the tokenizer fits the data.

    The trained segmentation lives on the VOCAB frame (word ->
    |symbols| after all merges, including the </w> marker), so encoding
    is corpus-words equi-joined to that word->length map and summed per
    doc -- the corpus never re-runs the folds.  At 100 TB the vocab map
    is a shuffle (or broadcast) equi-join on word; per-doc sums reuse
    the doc_id partitioning."""
    trained, _ = _train(spark, sf_dir)
    word_len = trained.select("word", F.size("syms").alias("n_syms"))
    docs = load_table(spark, sf_dir, "documents")
    doc_words = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.explode(_tokens()).alias("word"),
    ).filter(F.length("word") > 0)
    return (
        doc_words.join(word_len, "word")
        .groupBy("doc_id", "n_chars")
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


def _round_sql(prev_syms: str, best: str, rnd: int) -> str:
    """One unrolled oracle round: pair counts from `prev_syms`, the
    winner CTE `best`, and the folded next symbol table."""
    return f"""
pairs{rnd} AS (
  SELECT syms[i] AS a, syms[i+1] AS b, SUM(freq) AS cnt
  FROM {prev_syms}, UNNEST(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
), {best} AS (
  SELECT a, b, cnt FROM pairs{rnd} ORDER BY cnt DESC, a, b LIMIT 1
), syms{rnd} AS (
  SELECT word, freq,
         list_reduce(
           list_transform(syms, s -> [s]),
           (acc, x) -> CASE WHEN acc[-1] = {best}.a AND x[1] = {best}.b
                            THEN acc[1:len(acc)-1] || [acc[-1] || x[1]]
                            ELSE acc || x END
         ) AS syms
  FROM syms{rnd - 1}, {best}
)"""


BPE_TRAIN_SQL = (
    """
WITH vocab AS (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) > 0 GROUP BY word
), syms0 AS (
  SELECT word, freq,
         list_transform(range(1, length(word) + 1), i -> word[i:i])
           || ['</w>'] AS syms
  FROM vocab
), """
    + ", ".join(
        _round_sql(f"syms{r - 1}", f"best{r}", r).strip()
        for r in range(1, BPE_ROUNDS + 1)
    )
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS round, a AS pair_a, b AS pair_b, a || b AS merged, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM best{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
)


BPE_ENCODE_SQL = (
    BPE_TRAIN_SQL.split("\nSELECT 1 AS round")[0]
    + f"""
, word_len AS (
  SELECT word, len(syms) AS n_syms FROM syms{BPE_ROUNDS}
), doc_words AS (
  SELECT doc_id, length(text) AS n_chars,
         unnest(string_split(text, ' ')) AS word
  FROM documents
)
SELECT d.doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(w.n_syms) AS BIGINT) AS n_bpe_tokens,
       {{chars_per_token}} AS chars_per_token
FROM doc_words d JOIN word_len w USING (word)
WHERE length(d.word) > 0
GROUP BY d.doc_id, d.n_chars
""".format(
        chars_per_token=round_sql(
            "d.n_chars::DOUBLE / (SUM(w.n_syms))::DOUBLE", 6
        )
    )
)
