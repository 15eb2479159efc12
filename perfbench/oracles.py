"""Correctness checks, computed outside the engine.

DuckDB evaluates the playbook chain and the CDC fold on the generated
input files; the gate's landed corpus is checked by an exhaustive
pairwise scan. Row sets are compared by count plus an order-independent
hash — the sum of DuckDB's ``hash()`` over the rows — computed by the same
DuckDB expression on both sides, so engine row order never matters.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import duckdb
import pyarrow as pa

PLAYBOOK_ROW_HASH = ("hash(id::BIGINT, customer_id::BIGINT, status::VARCHAR, "
                     "name::VARCHAR, amount::DOUBLE, qty::BIGINT, "
                     "tag::VARCHAR)")
SNAPSHOT_ROW_HASH = "hash(k::BIGINT, grp::BIGINT, val::BIGINT)"
MV_ROW_HASH = "hash(grp::BIGINT, mv_sum::BIGINT, mv_n::BIGINT)"


def _row_set(con, relation: str, row_hash: str) -> dict:
    n, h = con.execute(f"SELECT count(*), "
                       f"coalesce(sum({row_hash}), 0)::VARCHAR "
                       f"FROM {relation}").fetchone()
    return {"rows": int(n), "hash": h}


def playbook_expected(src: str) -> dict:
    """The playbook of inputs.playbook_config, evaluated by DuckDB:
    filter → mapping (mustToInt rejects unparsable ``qty``) → flatten
    ``tags`` → keep max(amount) per (customer_id, tag)."""
    con = duckdb.connect()
    con.execute(f"""
        CREATE VIEW f AS SELECT * FROM read_parquet('{src}')
        WHERE amount > 10 AND status <> 'void';
        CREATE VIEW fl AS
        SELECT id, cust AS customer_id, upper(status) AS status,
               trim(name) AS name, amount, TRY_CAST(qty AS BIGINT) AS qty,
               unnest(tags) AS tag
        FROM f WHERE TRY_CAST(qty AS BIGINT) IS NOT NULL;
        CREATE VIEW clean AS SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY customer_id, tag
                                       ORDER BY amount DESC, id) AS rn
          FROM fl) WHERE rn = 1;""")
    out = _row_set(con, "clean", PLAYBOOK_ROW_HASH)
    out["rows_flattened"] = con.execute(
        "SELECT count(*) FROM fl").fetchone()[0]
    out["rows_error"] = con.execute(
        "SELECT count(*) FROM f WHERE TRY_CAST(qty AS BIGINT) IS NULL"
    ).fetchone()[0]
    return out


def playbook_actual(out_dir: str) -> dict:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW o AS SELECT * FROM "
                f"read_parquet('{out_dir}/*.parquet')")
    return _row_set(con, "o", PLAYBOOK_ROW_HASH)


def cdc_expected(batch_files: list[str]) -> dict:
    """One-shot fold of every change batch: per key the latest change by
    (batch, seq), a delete losing a seq tie; deleted keys leave. The MV is
    the grouped sum and count over the folded rows."""
    con = duckdb.connect()
    union = " UNION ALL ".join(
        f"SELECT *, {b} AS b FROM read_parquet('{p}')"
        for b, p in enumerate(batch_files))
    con.execute(f"""
        CREATE VIEW folded AS SELECT k, grp, val FROM (
          SELECT *, row_number() OVER (
            PARTITION BY k ORDER BY b DESC, seq DESC,
                                    CASE WHEN op = 'D' THEN 0 ELSE 1 END DESC
          ) AS rn FROM ({union})) WHERE rn = 1 AND op <> 'D';
        CREATE VIEW mv AS SELECT grp, sum(val) AS mv_sum,
                                 count(*) AS mv_n
        FROM folded GROUP BY grp;""")
    return {"snapshot": _row_set(con, "folded", SNAPSHOT_ROW_HASH),
            "mv": _row_set(con, "mv", MV_ROW_HASH)}


def arrow_row_set(table: pa.Table, row_hash: str) -> dict:
    con = duckdb.connect()
    con.register("t", table)
    return _row_set(con, "t", row_hash)


def shingle_set(text: str, n: int = 3) -> set[str]:
    """The gate's shingles (llm/dedup.py ``shingles``): word n-grams over
    the lowercased, trimmed, whitespace-split text; shorter texts are one
    shingle."""
    toks = text.strip().lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def near_pairs(texts: list[str],
               threshold: float) -> list[tuple[int, int, float]]:
    """Every pair (i, j) whose shingle-set Jaccard is ≥ ``threshold``.
    Exhaustive: a pair with nonzero Jaccard shares a shingle, and every
    pair sharing a shingle is counted through the inverted index, so no
    pair can be missed (unlike the engine's LSH candidate step)."""
    sets = [shingle_set(t) for t in texts]
    index: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(sets):
        for sh in s:
            index[sh].append(i)
    inter: Counter = Counter()
    for docs in index.values():
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                inter[(docs[a], docs[b])] += 1
    out = []
    for (i, j), c in inter.items():
        jac = c / (len(sets[i]) + len(sets[j]) - c)
        if jac >= threshold:
            out.append((i, j, jac))
    return out
