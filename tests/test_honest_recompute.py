"""Honest-recompute and checkpoint-lifecycle guard (r13, VERDICT r12 item 8).

r2-r11 carried module-level persisted-DataFrame memos keyed on
(applicationId, sf_dir) in operators/dedup.py and operators/features.py:
`persist()` registers the plan with Spark's CacheManager, which
plan-matches later identical invocations, so runs 2-3 of the bench's
min-of-3 (and alphabetically-later sibling queries) silently read run
1's bytes instead of recomputing from parquet. r12 removed them; this
test fails if the pattern reappears anywhere on a batch query path.

Grep-level by design: `.persist(`/`.cache(` have no legitimate batch
query-path use in this engine (per-invocation sharing uses eager
`localCheckpoint()`, which is keyed to the RDD of the call and never
plan-matched), and `applicationId` only ever appeared as a cross-run
memo key. The streaming package is excluded: its one
`batch.persist()` is scoped to a single micro-batch and unpersisted
in-batch (streaming/pipeline.py), which the bench/oracle never runs.

The same scan keeps one checkpoint lifecycle: `.localCheckpoint(` is
called only by `functions/lineage.local_checkpoint`, which registers
every checkpoint for the query-boundary drain, and the retired
`ephemeral_local_checkpoint` path and per-operator `checkpoint: bool`
knobs stay gone. The streaming package's stream-lifetime model
checkpoints are outside the scanned directories on purpose.
"""

import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "streamprocessing_with_kafka_spark"

#: batch query-path directories: everything a registry query's closure
#: can reach. streaming/ is excluded (micro-batch persist is in-batch).
QUERY_PATH_DIRS = ["operators", "sources", "functions", "plans"]
QUERY_PATH_FILES = ["session.py", "schema.py"]

FORBIDDEN = [
    ".persist(",
    ".cache(",
    "applicationId",
    ".localCheckpoint(",
    "ephemeral_local_checkpoint",
    "checkpoint: bool",
]

#: the one module allowed each token
EXEMPT = {".localCheckpoint(": "functions/lineage.py"}


def _query_path_sources():
    for d in QUERY_PATH_DIRS:
        for p in sorted((PKG / d).glob("*.py")):
            yield p
    for f in QUERY_PATH_FILES:
        yield PKG / f


def test_no_cross_run_caching_primitives_on_query_paths():
    hits = []
    for p in _query_path_sources():
        text = p.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            stripped = line.split("#", 1)[0]  # code only, not comments
            for tok in FORBIDDEN:
                if tok in stripped and p != PKG / EXEMPT.get(tok, ""):
                    hits.append(f"{p.relative_to(PKG.parent)}:{i}: {line.strip()}")
    assert not hits, (
        "cross-run caching primitive or unregistered checkpoint on a batch "
        "query path (module-level persist/cache memos were removed in r12; "
        "checkpoint through functions/lineage.local_checkpoint):\n"
        + "\n".join(hits)
    )
