"""Per-batch Spark job counts of every ingest gate and store append,
pinned.

Each gate batch (or append call) runs inside its own job group and the
jobs are counted with ``statusTracker().getJobIdsForGroup``. Batch 0
lands into an empty store, batch 1 probes the store batch 0 wrote."""

import pytest
from pyspark.sql import functions as F

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMBS = "/root/testdata/sf0.001/embeddings.parquet"

# (batch 0, batch 1) job counts of the shared ``_gate`` skeleton. Every
# read of a table the batch itself staged passes its known schema, so
# none runs a schema-inference job; the exact gate checkpoints its
# survivors instead of re-running the batch window and the store
# anti-join for its fingerprint append
BOUNDS = {
    "near": (16, 19),
    "clean": (17, 21),
    "semantic": (19, 21),
    "budget": (10, 10),
    "exact": (3, 4),
}

# (first call, second call) job counts of the update-store and index
# appends, pinned at the counts they ran when they appended through
# Spark's own committer: the commit (a stage write, a manifest publish
# and file moves) adds no job. The schema'd fingerprint, centroid and
# codebook reads now run one job fewer per call
APPEND_BOUNDS = {
    "exact": (2, 4),
    "paragraph": (3, 5),
    "ivf": (6, 6),
    "pq": (5, 5),
}


def _gate_fn(family):
    from etl_tool_spark.streaming import dedup as G

    kw = dict(threshold=0.45, dim=64, bands=64, rows_per_band=6)
    return {
        "near": lambda b, i, s, o: G.land_near_batch(b, i, s, o),
        "clean": lambda b, i, s, o: G.land_clean_batch(b, i, s, o),
        "semantic": lambda b, i, s, o: G.land_semantic_batch(b, i, s, o,
                                                             **kw),
        "budget": lambda b, i, s, o: G.land_budget_batch(b, i, s, o,
                                                         quota_frac=0.5),
        "exact": lambda b, i, s, o: G.land_batch(b, i, s, o),
    }[family]


def _batches(spark, family):
    if family == "semantic":
        df = spark.read.parquet(EMBS).select("vec_id", "embedding")
        key = "vec_id"
    else:
        df = spark.read.parquet(DOCS).limit(300).select("doc_id", "text")
        key = "doc_id"
    return [df.filter(F.col(key) % 2 == r) for r in (0, 1)]


def _jobs(spark, group, fn):
    """The number of Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None, False)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("family", sorted(BOUNDS))
def test_gate_jobs_per_batch(spark, tmp_path, family):
    land = _gate_fn(family)
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    counts = [_jobs(spark, f"gate-jobs-{family}-{i}-{tmp_path.name}",
                    lambda: land(batch, i, store, out))
              for i, batch in enumerate(_batches(spark, family))]
    print(f"{family} jobs per batch: {counts}")
    for got, bound in zip(counts, BOUNDS[family]):
        assert got <= bound, (
            f"{family} gate ran {counts} jobs per batch; "
            f"bound {BOUNDS[family]}")


@pytest.mark.parametrize("kind", sorted(APPEND_BOUNDS))
def test_store_append_jobs_per_call(spark, tmp_path, kind):
    from etl_tool_spark.llm import dedup as D
    from etl_tool_spark.llm import similarity as S

    root = str(tmp_path / kind)
    if kind in ("exact", "paragraph"):
        fn = (D.incremental_exact_dedup if kind == "exact"
              else D.incremental_paragraph_dedup)
        calls = [lambda b=b: fn(b, root, update_store=True)
                 for b in _batches(spark, kind)]
    else:
        vecs = spark.read.parquet(EMBS).select("vec_id", "embedding")
        old, *new = [vecs.filter(F.col("vec_id") % 3 == r)
                     for r in (0, 1, 2)]
        if kind == "ivf":
            S.ivf_build_index(old, root, nlist=4)
            calls = [lambda b=b: S.ivf_append_index(b, root) for b in new]
        else:
            S.pq_build_index(old, root, m=4, ksub=8)
            calls = [lambda b=b: S.pq_append_index(b, root) for b in new]
    counts = [_jobs(spark, f"append-jobs-{kind}-{i}-{tmp_path.name}", call)
              for i, call in enumerate(calls)]
    print(f"{kind} append jobs per call: {counts}")
    for got, bound in zip(counts, APPEND_BOUNDS[kind]):
        assert got <= bound, (
            f"{kind} append ran {counts} jobs per call; "
            f"bound {APPEND_BOUNDS[kind]}")
