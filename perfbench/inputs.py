"""Seeded input generators for the three workloads.

Everything here is numpy + pyarrow and runs before (or between) engine
calls: the engine only ever sees the parquet files written here. The
same seed gives byte-identical files; every generator takes its own
``numpy.random.Generator`` stream derived from (seed, purpose), so adding
a batch never shifts the values of an earlier one.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one parquet writer configuration everywhere: byte-identical output for
# identical tables, independent of the pyarrow defaults of the day
_PQ_KW = {"compression": "snappy", "use_dictionary": True,
          "write_statistics": True, "row_group_size": 1 << 20}

_STREAMS = {"playbook": 1, "cdc": 2, "gate_vocab": 3, "gate": 4}


def rng_for(seed: int, purpose: str, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[purpose], index])


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, **_PQ_KW)


# --------------------------------------------------------------------------
# playbook_batch: one reference-style source table
# --------------------------------------------------------------------------

STATUSES = np.array(["new", "open", "paid", "void"])
STATUS_P = [0.3, 0.3, 0.3, 0.1]          # 'void' rows are filtered out
TAGS = np.array([f"t{i}" for i in range(8)])
BAD_QTY_RATE = 0.01                       # rows the mustToInt rule rejects


def playbook_source(seed: int, n_rows: int, path: str) -> dict:
    """Orders-like rows: ``cust`` repeats (≈4 rows per customer), each
    row carries 0-3 distinct tags, so flatten fans out ≈1.5× and dedup on
    (customer_id, tag) with ``max(amount)`` removes the repeats. ``amount``
    is unique per row, so the dedup winner never depends on a tie."""
    rng = rng_for(seed, "playbook")
    n_cust = max(1, n_rows // 4)
    ids = np.arange(n_rows, dtype=np.int64)
    cust = rng.integers(0, n_cust, n_rows, dtype=np.int64)
    status = STATUSES[rng.choice(len(STATUSES), n_rows, p=STATUS_P)]
    names = np.array([f"  name{i} " for i in range(5000)])[
        rng.integers(0, 5000, n_rows)]
    # unique amounts: a permutation of cents, so no two rows tie
    amount = rng.permutation(n_rows).astype(np.float64) / 100.0 + 5.0
    qty = np.array([str(i) for i in range(100)], dtype=object)[
        rng.integers(1, 100, n_rows)]
    qty[rng.random(n_rows) < BAD_QTY_RATE] = "n/a"
    n_tags = rng.integers(0, 4, n_rows)
    order = np.argsort(rng.random((n_rows, len(TAGS))), axis=1)[:, :3]
    offsets = np.concatenate([[0], np.cumsum(n_tags)]).astype(np.int32)
    flat = TAGS[order[np.arange(3) < n_tags[:, None]]]
    tags = pa.ListArray.from_arrays(pa.array(offsets),
                                    pa.array(flat, type=pa.string()))
    table = pa.table({"id": ids, "cust": cust,
                      "status": pa.array(status, type=pa.string()),
                      "name": pa.array(names, type=pa.string()),
                      "amount": amount,
                      "qty": pa.array(qty, type=pa.string()),
                      "tags": tags})
    write_table(table, path)
    return {"rows": n_rows, "customers": n_cust,
            "tag_items": int(n_tags.sum())}


def playbook_config(src: str, out: str, errors: str) -> dict:
    """The playbook every playbook_batch op runs (reference YAML shape)."""
    return {
        "source": {"type": "parquet", "file": src},
        "filter": "amount > 10 && status != 'void'",
        "mappings": [
            {"source": "id", "target": "id"},
            {"source": "cust", "target": "customer_id", "transform": "toInt"},
            {"source": "status", "target": "status",
             "transform": "toUpperCase"},
            {"source": "name", "target": "name", "transform": "trim"},
            {"source": "amount", "target": "amount", "transform": "toFloat"},
            {"source": "qty", "target": "qty", "transform": "mustToInt"},
            {"source": "tags", "target": "tags"},
        ],
        "flattening": {"sourceField": "tags", "targetField": "tag"},
        "dedup": {"keys": ["customer_id", "tag"], "strategy": "max",
                  "strategyField": "amount"},
        "errorHandling": {"mode": "skip", "errorFile": errors},
        "destination": {"type": "parquet", "file": out},
    }


# --------------------------------------------------------------------------
# cdc_mv_ingest: change batches over a Zipf-skewed key space
# --------------------------------------------------------------------------

DELETE_RATE = 0.10
N_GROUPS = 32


def _zipf_cdf(n_keys: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    return np.cumsum(w) / w.sum()


class CdcBatches:
    """Batch ``i`` of the change feed, generated on demand. Keys are
    Zipf(s) over a fixed key space (rank → key through a seeded
    permutation, so hot keys are scattered over the buckets); ops are
    90/10 upsert/delete; ``seq`` increases across batches but arrives
    shuffled inside a batch, and hot keys repeat inside a batch, so the
    per-key latest-seq resolution does real work."""

    def __init__(self, seed: int, n_keys: int, batch_rows: int,
                 zipf_s: float = 1.1):
        self.seed, self.n_keys, self.batch_rows = seed, n_keys, batch_rows
        self._cdf = _zipf_cdf(n_keys, zipf_s)
        self._perm = rng_for(seed, "cdc", 1 << 20).permutation(n_keys)

    def rows(self, i: int) -> int:
        return self.n_keys if i == 0 else self.batch_rows

    def table(self, i: int) -> pa.Table:
        """Batch 0 upserts every key once (the initial load); later
        batches are the Zipf-skewed change feed."""
        rng = rng_for(self.seed, "cdc", i)
        n = self.rows(i)
        if i == 0:
            return pa.table({
                "k": np.arange(n, dtype=np.int64),
                "seq": np.arange(n, dtype=np.int64),
                "op": pa.array(np.full(n, "U"), type=pa.string()),
                "grp": rng.integers(0, N_GROUPS, n, dtype=np.int64),
                "val": rng.integers(0, 100_000, n, dtype=np.int64)})
        ranks = np.searchsorted(self._cdf, rng.random(n), side="right")
        keys = self._perm[np.minimum(ranks, self.n_keys - 1)].astype(np.int64)
        seq = (np.int64(i) * n + rng.permutation(n)).astype(np.int64)
        op = np.where(rng.random(n) < DELETE_RATE, "D", "U")
        return pa.table({
            "k": keys, "seq": seq, "op": pa.array(op, type=pa.string()),
            "grp": rng.integers(0, N_GROUPS, n, dtype=np.int64),
            "val": rng.integers(0, 100_000, n, dtype=np.int64)})

    def write(self, i: int, path: str) -> None:
        write_table(self.table(i), path)


# --------------------------------------------------------------------------
# dedup_gate_ingest: documents with planted exact copies and near-dups
# --------------------------------------------------------------------------

EXACT_RATE = 0.05        # exact copies of an earlier document
NEAR_RATE = 0.05         # one-word edits of a document from an earlier batch
DOC_WORDS = (40, 80)
VOCAB = 4000


class GateBatches:
    """Batch ``i`` of ``batch_docs`` documents with globally increasing
    ids. Fresh documents are random word sequences over a seeded
    vocabulary (unrelated documents share no 3-word shingle in practice).
    An exact copy repeats an earlier fresh document (this batch or an
    earlier one); a near-dup replaces the FIRST word of a fresh document
    from an EARLIER batch. That changes one 3-word shingle, so its Jaccard
    with the landed original is ≥ 37/39 ≈ 0.95 — far above the gate's 0.7
    threshold, and LSH banding (8 bands × 2 rows) misses it with
    probability ≈ 1e-8."""

    def __init__(self, seed: int, batch_docs: int):
        self.seed, self.batch_docs = seed, batch_docs
        vr = rng_for(seed, "gate_vocab")
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = vr.integers(3, 9, VOCAB)
        words = {"".join(letters[vr.integers(0, 26, n)]) for n in lens}
        self.vocab = np.array(sorted(words))
        self._fresh_cache: dict[int, list[str]] = {}
        self._n_exact = int(batch_docs * EXACT_RATE)
        self._n_near = int(batch_docs * NEAR_RATE)

    def _fresh(self, rng: np.random.Generator, n: int) -> list[str]:
        lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
        return [" ".join(self.vocab[rng.integers(0, len(self.vocab), k)])
                for k in lens]

    def fresh_texts(self, i: int) -> list[str]:
        """The fresh documents of batch ``i`` (deterministic per batch)."""
        if i not in self._fresh_cache:
            rng = rng_for(self.seed, "gate", 2 * i)
            n_fresh = self.batch_docs - self._n_exact - self._n_near
            self._fresh_cache[i] = self._fresh(rng, n_fresh)
        return self._fresh_cache[i]

    def table(self, i: int) -> pa.Table:
        rng = rng_for(self.seed, "gate", 2 * i + 1)
        fresh = self.fresh_texts(i)
        texts = list(fresh)
        for _ in range(self._n_exact):    # exact copies
            j = int(rng.integers(0, i + 1))
            pool = fresh if j == i else self.fresh_texts(j)
            texts.append(pool[int(rng.integers(0, len(pool)))])
        for _ in range(self._n_near):     # near-dup edits
            if i == 0:   # nothing has landed yet: plant another copy
                texts.append(fresh[int(rng.integers(0, len(fresh)))])
                continue
            pool = self.fresh_texts(int(rng.integers(0, i)))
            words = pool[int(rng.integers(0, len(pool)))].split(" ")
            words[0] = self.vocab[int(rng.integers(0, len(self.vocab)))]
            texts.append(" ".join(words))
        order = rng.permutation(len(texts))
        base = i * self.batch_docs
        return pa.table({
            "doc_id": np.arange(base, base + len(texts), dtype=np.int64),
            "text": pa.array([texts[o] for o in order], type=pa.string())})

    def rows(self, i: int) -> int:
        return self.batch_docs

    def write(self, i: int, path: str) -> None:
        write_table(self.table(i), path)
