"""Per-batch Spark job counts of every ingest gate, pinned.

Each gate batch runs inside its own job group and the jobs are counted
with ``statusTracker().getJobIdsForGroup``. Batch 0 lands into an empty
store, batch 1 probes the store batch 0 wrote. The bounds are the counts
of the per-family gate code the shared ``_gate`` skeleton replaced; the
skeleton must not add a job to any family."""

import pytest
from pyspark.sql import functions as F

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMBS = "/root/testdata/sf0.001/embeddings.parquet"

# (batch 0, batch 1) job counts of the per-family gate code; near is
# the count of the shared skeleton, whose staged append adds no job.
# Since the near-dup verify keys rows by (side, id), the first batch of
# the near and clean gates runs 3 jobs fewer
BOUNDS = {
    "near": (17, 20),
    "clean": (18, 23),
    "semantic": (21, 23),
    "budget": (10, 10),
    "exact": (4, 7),
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


@pytest.mark.parametrize("family", sorted(BOUNDS))
def test_gate_jobs_per_batch(spark, tmp_path, family):
    sc = spark.sparkContext
    land = _gate_fn(family)
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    counts = []
    for i, batch in enumerate(_batches(spark, family)):
        group = f"gate-jobs-{family}-{i}-{tmp_path.name}"
        sc.setJobGroup(group, group, False)
        try:
            land(batch, i, store, out)
        finally:
            sc.setJobGroup(None, None, False)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    print(f"{family} jobs per batch: {counts}")
    for got, bound in zip(counts, BOUNDS[family]):
        assert got <= bound, (
            f"{family} gate ran {counts} jobs per batch; "
            f"bound {BOUNDS[family]}")
