"""Deduplication operators for LLM training data.

Five families, each scale-shaped for 100 TB:

  * exact            — groupBy(fingerprint): one shuffle on a 128-bit key.
  * minhash_lsh      — shingle → k minhashes → b bands → band-bucket
                       grouping: candidate pairs are generated inside
                       each (band, signature) bucket — NEVER a cross
                       join. Cost is O(docs·k) map-side + one shuffle
                       of (doc, band) rows.
  * simhash          — 16/64-bit sign-of-sums fingerprint; near-dups are
                       buckets sharing the fingerprint (or low Hamming
                       distance via pivoted bit-blocks).
  * ngram_jaccard    — exact verified Jaccard on LSH candidates (the
                       verify stage after minhash banding).
  * embedding cosine — see similarity.py; near-dup = cosine ≥ τ on LSH/
                       IVF candidates.

Everything derives hashes from md5 (llm.text.hash64), so the DuckDB
oracle reproduces results exactly — no engine-specific murmur seeds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_tool_spark.llm.text import fingerprint, hash64, tokens

__all__ = ["exact_dedup", "incremental_exact_dedup", "shingles",
           "minhash_signature", "lsh_candidate_pairs",
           "minhash_dedup_pairs", "incremental_minhash_pairs", "jaccard_pairs",
           "simhash", "simhash_buckets",
           "minhash_from_hashes_vec", "simhash_from_hashes_vec",
           "paragraph_dedup", "incremental_paragraph_dedup",
           "winnow_fingerprints", "winnow_gram_hashes", "winnow_from_hashes"]


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per exact (normalized) duplicate
    group. One shuffle on the md5 fingerprint."""
    fp = fingerprint(F.col(text_col)).alias("_fp")
    return (df.select(fp, F.col(id_col), *[c for c in df.columns if c != id_col])
              .groupBy("_fp")
              .agg(F.min(id_col).alias(id_col),
                   F.count(F.lit(1)).alias("dup_count"))
              .drop("_fp"))


def incremental_exact_dedup(new_df: DataFrame, store_dir: str,
                            text_col: str = "text", id_col: str = "doc_id",
                            update_store: bool = True) -> DataFrame:
    """Exact dedup-on-ingest against a growing fingerprint store — the
    simplest production dedup primitive (every crawl batch drops rows
    whose normalized text was EVER seen before, including within the
    batch itself, keeping each batch's lowest-id first sighting).

    ``store_dir`` is a parquet store of seen ``_fp`` md5 fingerprints,
    created on first call. Each call fingerprints only the new batch,
    anti-joins the store (at 100 TB: store bucketed by _fp → co-located
    join; the per-batch survivors are tiny and append cheaply), and
    appends the survivors' fingerprints. Old documents are never re-read
    or re-hashed. Concatenating every batch's output equals the one-shot
    ``exact_dedup`` representatives over the full corpus, batch-id order
    permitting (asserted in tests).

    The old-side read pins to the store's current part files, exactly as
    ``incremental_minhash_pairs`` does (snapshot isolation stand-in).
    Returns the surviving new rows (original columns)."""
    spark = new_df.sparkSession
    fp = fingerprint(F.col(text_col)).alias("_fp")
    with_fp = new_df.select(fp, "*")

    # lowest id wins within the batch (one shuffle on the fingerprint)
    keep_w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    batch_first = (with_fp.withColumn("_rk", F.row_number().over(keep_w))
                          .filter(F.col("_rk") == 1).drop("_rk"))

    from etl_tool_spark import commit as C

    C.recover(store_dir)
    part_files = C.ls(f"{store_dir}/*.parquet")
    if part_files:
        seen = spark.read.parquet(*part_files)
        survivors = batch_first.join(seen, "_fp", "left_anti")
    else:
        survivors = batch_first
    if update_store:
        survivors.select("_fp").write.mode("append").parquet(store_dir)
    return survivors.drop("_fp")


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; docs shorter than n words
    get their whole text as the single shingle.

    Built by zipping the token array with its shifted copies — O(tokens)
    per row. (The naive transform-over-sequence-with-slice form is
    O(tokens²) per row and was the bench bottleneck.)"""
    toks = tokens(col)
    sz = F.size(toks)
    zipped = toks
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, F.greatest(sz - i, F.lit(0)))
        zipped = F.zip_with(zipped, shifted,
                            lambda a, b: F.concat_ws(" ", a, b))
    full = F.slice(zipped, 1, F.greatest(sz - (n - 1), F.lit(0)))
    return F.when(sz >= n, full).otherwise(F.array(F.array_join(toks, " ")))


# MinHash permutation family: one md5 per shingle (hash64), then
# num_hashes cheap integer mixes h → (a·lo(h) + b·hi(h) + c) mod 2⁶¹-1.
# Operands are bounded (a,b < 2³¹; lo,hi < 2³⁰) so products stay < 2⁶¹ —
# no int64 overflow even under ANSI. Same formula is trivial SQL for the
# oracle. This replaces 16 md5 calls per shingle with 1.
MERSENNE61 = (1 << 61) - 1
LO_MASK = (1 << 30) - 1


def winnow_gram_hashes(col: Column, k: int = 5) -> Column:
    """array<bigint> of hash64(char k-gram) IN POSITION ORDER (no
    dedup — winnowing needs every occurrence). Strings shorter than k
    contribute themselves, mirroring char_ngrams' contract. One md5 per
    gram; materialize this in ITS OWN projection before fanning out to
    the window cascade (see winnow_fingerprints' inlining note)."""
    s = col.cast("string")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s) - (k - 1), F.lit(1))),
        lambda i: F.substring(s, i, k))
    return F.transform(grams, hash64)


def winnow_from_hashes(hs: Column, w: int = 4) -> Column:
    """Winnowing fingerprint set from a POSITION-ORDERED gram-hash
    array: each length-w window's minimum, deduped. Windows come from a
    zip_with(least) CASCADE of w−1 shifted copies — the construction
    ``shingles`` uses — NOT from slice-per-window inside a transform:
    Catalyst does not share subexpressions across higher-order-function
    lambda invocations, so ``transform(sequence(...), i ->
    array_min(slice(hs, i, w)))`` re-evaluates the whole upstream array
    expression once per window — O(n²·w) when ``hs`` carries one md5
    per gram (measured: minutes for 500 ×400-char rows vs seconds for
    the cascade)."""
    sz = F.size(hs)
    mins = hs
    for j in range(1, w):
        shifted = F.slice(hs, j + 1, F.greatest(sz - j, F.lit(0)))
        # zip_with pads the shorter side with NULL; least ignores nulls,
        # so trailing partial windows reduce over the grams they have
        mins = F.zip_with(mins, shifted, lambda a, b: F.least(a, b))
    n_win = F.greatest(sz - (w - 1), F.lit(1))
    return F.array_distinct(F.slice(mins, 1, n_win))


def winnow_fingerprints(col: Column, k: int = 5, w: int = 4,
                        gram_hashes: Column | None = None) -> Column:
    """Winnowing fingerprint set of a string (Schleimer, Wilkerson,
    Aiken — "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03; the MOSS algorithm): hash every character k-gram IN
    POSITION ORDER, slide a window over each w consecutive gram hashes,
    keep each window's MINIMUM, and return the distinct mins as
    array<bigint>.

    The guarantees that make this the exact-substring complement to
    MinHash (whole-document resemblance) and SimHash (vector
    proximity):

      * detection — two documents sharing ANY substring of length
        ≥ w + k − 1 share at least one fingerprint (every full window
        inside the shared run picks the same minimum on both sides);
      * noise floor — matches shorter than k can never be detected;
      * density — expected fingerprints ≈ 2/(w+1) of the grams, so the
        inverted index is a tunable fraction of the full gram index.

    Pure Column (map-side, no shuffle, no UDF); hashes via the
    DuckDB-replicable hash64 so oracle twins can replay the exact
    pipeline. Pass ``gram_hashes`` (a winnow_gram_hashes column
    pre-materialized in its own projection) when composing — the window
    cascade references the hash array w times, and Catalyst's
    CollapseProject would otherwise inline the per-gram md5 pass once
    per shifted copy (same trap, and fix, as language_id's ``toks``)."""
    hs = winnow_gram_hashes(col, k) if gram_hashes is None else gram_hashes
    return winnow_from_hashes(hs, w)


def perm_consts(i: int) -> tuple[int, int, int]:
    import hashlib as _hl

    d = _hl.md5(f"perm{i}".encode()).digest()
    a = (int.from_bytes(d[0:4], "big") & 0x7FFFFFFF) | 1
    b = (int.from_bytes(d[4:8], "big") & 0x7FFFFFFF) | 1
    c = int.from_bytes(d[8:12], "big")
    return a, b, c


def _perm_min(hs: Column, i: int) -> Column:
    # NB: the permutation index must be captured by an enclosing function,
    # not a lambda default — PySpark infers HOF arity from the lambda
    # signature, so `lambda h, i=i:` would silently become the 2-arg
    # (element, index) form and bind i to the index Column.
    a, b, c = perm_consts(i)
    return F.array_min(F.transform(
        hs,
        lambda h: (F.lit(a).cast("bigint") * h.bitwiseAND(F.lit(LO_MASK))
                   + F.lit(b).cast("bigint") * F.shiftright(h, 30)
                   + F.lit(c).cast("bigint")) % F.lit(MERSENNE61)))


def shingle_hashes(col: Column, shingle_n: int = 3) -> Column:
    """array<bigint> of hash64(shingle) — the one-md5-per-shingle base."""
    return F.transform(shingles(col, shingle_n), hash64)


def _ragged(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Flatten a Series of int arrays into (flat int64, per-row lengths)."""
    arrs = [np.asarray(v, dtype=np.int64) if v is not None
            else np.empty(0, np.int64) for v in series]
    lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=len(arrs))
    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
    return flat, lens


def _nonempty_starts(lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(row indices with len>0, their start offsets in the flat array).
    Passing only non-empty starts to ufunc.reduceat still reduces each
    segment exactly: empty segments have zero width, so consecutive
    non-empty starts bound one segment's elements."""
    nz = np.flatnonzero(lens)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))[nz]
    return nz, starts


def minhash_from_hashes_vec(hs: Column, num_hashes: int) -> Column:
    """Arrow-batched twin of the per-permutation HOF mix in _perm_min —
    bit-identical (pure int64 math: operands bounded so a·lo + b·hi + c
    stays < 2⁶², no overflow) but one numpy pass over the batch instead
    of ``num_hashes`` interpreted array walks per row. The HOF form
    remains the oracle-shape documentation; tests assert equality.
    Rows with an empty/null hash array yield null (the HOF form yields
    an array of nulls).

    Null ELEMENTS are filtered JVM-side before the UDF: a single null in
    any row's array (null text produces ``[null]``) would otherwise make
    pyarrow hand the whole batch's flattened child array over as float64
    — NaN for the null, and silent precision loss past 2^53 for every
    OTHER row's 60-bit hashes in the batch (verified empirically: one
    null-text row changed its batch-mates' signatures)."""
    consts = np.asarray([perm_consts(i) for i in range(num_hashes)],
                        dtype=np.int64)
    A, B, C = consts[:, 0:1], consts[:, 1:2], consts[:, 2:3]  # (P, 1) each

    @F.pandas_udf("array<bigint>")
    def sigs(hs_s: pd.Series) -> pd.Series:
        flat, lens = _ragged(hs_s)
        out: list = [None] * len(lens)
        if flat.size:
            # per-permutation passes: peak temp is one batch-width row,
            # not a (num_hashes x batch_shingles) matrix — bounds worker
            # memory at large document sizes
            lo = flat & LO_MASK
            hi = flat >> 30
            nz, starts = _nonempty_starts(lens)
            mins = np.empty((num_hashes, nz.size), dtype=np.int64)
            for p in range(num_hashes):
                vals = (A[p, 0] * lo + B[p, 0] * hi + C[p, 0]) % MERSENNE61
                mins[p] = np.minimum.reduceat(vals, starts)
            for j, idx in enumerate(nz):
                out[idx] = mins[:, j].tolist()
        return pd.Series(out, dtype=object)

    return sigs(F.filter(hs, lambda x: x.isNotNull()))


def simhash_from_hashes_vec(th: Column, bits: int = 16) -> Column:
    """Arrow-batched twin of simhash_from_hashes: per bit, one
    flat ±1 pass + segment-sum (np.add.reduceat) over the whole batch
    instead of ``bits`` interpreted aggregate walks per row. Exact
    integer math — identical fingerprints (tests assert equality).
    Empty/null token arrays yield 0, matching the HOF aggregate."""

    @F.pandas_udf("bigint")
    def fp(th_s: pd.Series) -> pd.Series:
        flat, lens = _ragged(th_s)
        out = np.zeros(len(lens), dtype=np.int64)
        if flat.size:
            nz, starts = _nonempty_starts(lens)
            for b in range(bits):
                ones = ((flat >> b) & 1) * 2 - 1
                sums = np.add.reduceat(ones, starts)
                sel = nz[sums > 0]
                # hash64 is 60-bit, so bits ≥60 never go positive — the
                # guard keeps 1<<63 (int64 overflow) unreachable
                if sel.size:
                    out[sel] += 1 << b
        return pd.Series(out)

    # null elements filtered JVM-side — same Arrow float64-batch-poisoning
    # guard as minhash_from_hashes_vec
    return fp(F.filter(th, lambda x: x.isNotNull()))


def minhash_signature(col: Column, num_hashes: int = 16, shingle_n: int = 3) -> Column:
    """Array of ``num_hashes`` minhash values — deterministic and
    oracle-reproducible. Map-side only: no shuffle, no UDF.

    NOTE: when composing into a frame, materialize the shingle-hash array
    into its own column first (see _band_frame) so it isn't re-inlined
    once per permutation."""
    hs = shingle_hashes(col, shingle_n)
    return F.array(*[_perm_min(hs, i) for i in range(num_hashes)])


def _bucket_pairs(banded: DataFrame, id_col: str,
                  payload_cols: tuple[str, ...] = (),
                  max_bucket: int | None = None) -> DataFrame:
    """All a<b pairs within each (_band, _bucket) group, via ONE shuffle:
    groupBy → sorted collect_list → nested-transform pair expansion.

    This replaces the banding SELF-JOIN formulation: joining the banded
    frame to itself computes the whole signature subtree twice (physical
    plans showed no ReusedExchange — the bucket side broadcasts), while
    grouping computes it once and shuffles each doc once per band. The
    pair fan-out per bucket is quadratic in bucket size — exactly the
    pairs the join emitted, just materialized in the bucket's task.

    ``max_bucket`` is the hot-bucket guard for real corpora: a bucket of
    b docs emits b(b-1)/2 pairs, so one degenerate signature shared by
    100k boilerplate/empty docs would emit 5·10⁹ pairs in a single task.
    Buckets larger than the cap are dropped whole — the standard LSH
    treatment (their members collide across this band only through a
    signature so common it carries no similarity evidence; true exact
    duplicates are handled by the exact-dedup pass, and genuinely similar
    docs still pair in their other, less-degenerate bands). None (the
    default, used by all oracle-checked catalog queries) keeps every
    bucket — exact parity with the self-join formulation.

    Returns struct columns l/r, each (_id, *payload_cols), l._id < r._id
    (sort_array on (id-first) structs orders buckets by id; ids are
    unique per doc so payload fields never influence the order)."""
    entry = F.struct(F.col(id_col).alias("_id"),
                     *[F.col(c) for c in payload_cols])
    grouped = (banded.groupBy("_band", "_bucket")
                     .agg(F.sort_array(F.collect_list(entry)).alias("_es"))
                     .filter(F.size("_es") > 1))
    if max_bucket is not None:
        grouped = grouped.filter(F.size("_es") <= max_bucket)
    pairs = F.explode(F.flatten(F.transform(
        F.col("_es"),
        lambda x, i: F.transform(
            F.slice(F.col("_es"), i + F.lit(2),
                    F.greatest(F.size(F.col("_es")) - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("l"), y.alias("r"))))))
    return grouped.select(pairs.alias("_p")).select("_p.l", "_p.r")


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", num_hashes: int = 16,
                        bands: int = 8, shingle_n: int = 3,
                        max_bucket: int | None = None) -> DataFrame:
    """Candidate near-dup pairs via banded minhash-LSH.

    rows_per_band = num_hashes / bands. Two docs collide when any band's
    signature slice matches exactly. Candidates come from grouping on
    (band_id, slice) and pairing within each bucket — at 100 TB this
    shuffles each doc ``bands`` times on a short key instead of
    comparing all pairs. Output: (a, b) id pairs with a < b, distinct."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    hs_frame = df.select(F.col(id_col),
                         shingle_hashes(F.col(text_col), shingle_n).alias("_hs"))
    banded = _band_frame(hs_frame, id_col, num_hashes, bands)
    return (_bucket_pairs(banded, id_col, max_bucket=max_bucket)
            .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
            .distinct())


def jaccard_pairs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", shingle_n: int = 3,
                  threshold: float = 0.7) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs. Joins the
    (small) candidate set back to the docs — two broadcastable joins at
    typical candidate rates. Returns (a, b, jaccard) with jaccard ≥
    threshold, rounded to 6dp for cross-engine comparison."""
    sh = df.select(F.col(id_col), F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("_sh"))
    a = sh.withColumnRenamed(id_col, "a").withColumnRenamed("_sh", "_sha")
    b = sh.withColumnRenamed(id_col, "b").withColumnRenamed("_sh", "_shb")
    joined = pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    union = F.size(F.array_union("_sha", "_shb")).cast("double")
    jac = F.round(inter / union, 6)
    return (joined.select("a", "b", jac.alias("jaccard"))
                  .filter(F.col("jaccard") >= threshold))


def minhash_dedup_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", num_hashes: int = 16,
                        bands: int = 8, shingle_n: int = 3,
                        threshold: float = 0.7,
                        persist: bool = False,
                        staging_dir: str | None = None,
                        max_bucket: int | None = None,
                        hs_frame: DataFrame | None = None) -> DataFrame:
    """Full near-dup pipeline: LSH banding → exact-Jaccard verify.

    Jaccard is computed on the 60-bit shingle hashes, not the strings:
    identical result modulo (negligible, engine-consistent) collisions,
    half the hashing, and far smaller shuffle payloads.

    ``persist`` caches the per-doc shingle-hash frame, which is consumed
    three times (the banding pass and both sides of the verify join).
    Measured locally recompute beats the cache-serialization cost
    5× at document sizes like the test corpus, so the default is off;
    turn it on when text is large enough that md5 dominates (the
    persist-signatures pattern used at 100 TB, where signatures are
    typically written to a table once and joined from there).

    ``max_bucket``: optional hot-bucket cap forwarded to the banding
    stage (see _bucket_pairs) — None keeps exact-parity semantics.

    ``hs_frame``: an existing (id, _hs shingle-hash array) frame — a
    caller that already materialized signatures (clean_corpus stages
    them in the SAME write as its corpus checkpoint) passes it so the
    shingle pass never recomputes and no second staging write runs;
    ``staging_dir``/``persist`` are then ignored. Must have been built
    with the same ``shingle_n`` hash family."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"

    if hs_frame is None:
        hs_frame = df.select(F.col(id_col),
                             shingle_hashes(F.col(text_col),
                                            shingle_n).alias("_hs"))
        if staging_dir:
            # the 100 TB pattern: write signatures ONCE to storage and
            # join from there — the hs subtree feeds three consumers
            # (the banding pass and both sides of the verify join), and
            # without staging each consumer recomputes the shingle+md5
            # pipeline
            hs_frame.write.mode("overwrite").parquet(staging_dir)
            hs_frame = df.sparkSession.read.parquet(staging_dir)
        elif persist:
            hs_frame = hs_frame.persist()

    banded = _band_frame(hs_frame, id_col, num_hashes, bands)
    cands = (_bucket_pairs(banded, id_col, max_bucket=max_bucket)
             .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
             .distinct())
    return _jaccard_verify(hs_frame, cands, id_col, threshold)


def _band_bucket_array(sig: Column, num_hashes: int, bands: int) -> Column:
    """array<string> of the ``bands`` bucket keys (signature slices) —
    element b is the _bucket value _band_frame posexplodes at position
    b. Shared by _band_frame and the gates' FUSED staging writes, which
    store this array per document so band keys ride the same staged
    table as the shingle hashes (one write; consumers explode a pruned
    (id, _bands) scan)."""
    rows_per_band = num_hashes // bands
    return F.array(*[
        F.concat_ws(",", *[
            F.element_at(sig, b * rows_per_band + r + 1).cast("string")
            for r in range(rows_per_band)])
        for b in range(bands)])


def _band_frame(hs_frame: DataFrame, id_col: str, num_hashes: int,
                bands: int) -> DataFrame:
    """(id, _band, _bucket) — one row per (doc, band); bucket key is the
    band's signature slice rendered as a short string."""
    sig = hs_frame.select(
        id_col,
        minhash_from_hashes_vec(F.col("_hs"), num_hashes).alias("_sig"))
    return sig.select(
        id_col,
        F.posexplode(_band_bucket_array(F.col("_sig"), num_hashes, bands))
         .alias("_band", "_bucket"))


def _jaccard_verify(hs_frame: DataFrame, cands: DataFrame, id_col: str,
                    threshold: float) -> DataFrame:
    """Exact Jaccard on candidate (a, b) pairs from the shingle-hash
    frame: inverted-index intersection counts + per-doc distinct sizes.

    Sizes are a per-row expression (the distinct-hash array's length),
    NOT an aggregate over the exploded inverted index — the old
    explode+groupBy re-shuffled one row per (doc, shingle) across the
    whole corpus just to count what each row already carries
    (guide §2.3 aggregate cheaply before you shuffle; equal by
    definition: count(explode(array_distinct)) == size(array_distinct),
    and a pair only reaches the size join through ``inter``, which
    requires a shared hash, so empty-array docs — absent under explode,
    _sz=0 here — can never surface a pair either way)."""
    dsh = hs_frame.select(F.col(id_col), F.explode(F.array_distinct("_hs")).alias("_h"))
    sizes = hs_frame.select(F.col(id_col),
                            F.size(F.array_distinct("_hs")).alias("_sz"))
    a = dsh.select(F.col(id_col).alias("a"), "_h")
    b = dsh.select(F.col(id_col).alias("b"), "_h")
    inter = (cands.join(a, "a").join(b, ["b", "_h"])
                  .groupBy("a", "b").agg(F.count(F.lit(1)).alias("_i")))
    sa = sizes.select(F.col(id_col).alias("a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("_sz").alias("_szb"))
    jac = F.col("_i") / (F.col("_sza") + F.col("_szb") - F.col("_i"))
    return (inter.join(sa, "a").join(sb, "b")
                 .filter(jac >= threshold)
                 .select("a", "b", F.round(jac, 6).alias("jaccard")))


def _check_store_layout(store_dir: str) -> int:
    """Open a minhash store (store.open_store), refusing one of another
    layout before anything reads or writes it, and return its pinned
    band-shard count. Flat part files in the root are signatures of an
    earlier layout, or another kind of store (an exact-dedup fingerprint
    store is flat): read as a sig/ + bands/ store they would look EMPTY,
    and every duplicate of their corpus would pass unflagged. An
    unpinned bands/ table is refused by store.store_shards."""
    from etl_tool_spark.llm import store as _st

    if _st.flat_files(store_dir):
        raise ValueError(
            f"{store_dir} holds flat part files, not the sig/ + bands/ "
            "minhash store layout (an earlier layout, or another kind of "
            "store); rebuild the store")
    return _st.open_store(store_dir)


def append_signatures(df: DataFrame, store_dir: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 16, bands: int = 8,
                      shingle_n: int = 3) -> None:
    """Append ``df``'s minhash signatures + banded keys to an
    incremental store WITHOUT running pair discovery — remember a set of
    documents (e.g. a seed corpus) so later batches are compared against
    it. Parameters must match the store's (same hash family). The
    ingest gates stage their survivors' already-computed signatures
    through ``store.stage_appends`` instead."""
    from etl_tool_spark.llm import store as _st

    _check_store_layout(store_dir)
    hs = df.select(F.col(id_col),
                   shingle_hashes(F.col(text_col), shingle_n).alias("_hs"))
    _st.append_and_pin(hs, store_dir, "sig",
                       lambda t: _band_frame(t, id_col, num_hashes, bands),
                       ["_band", "_bucket"])


def incremental_minhash_pairs(new_df: DataFrame, store_dir: str,
                              id_col: str = "doc_id", text_col: str = "text",
                              num_hashes: int = 16, bands: int = 8,
                              shingle_n: int = 3, threshold: float = 0.7,
                              max_bucket: int | None = None,
                              update_store: bool = True,
                              prehashed: bool = False,
                              banded_frame: DataFrame | None = None,
                              probe: tuple[list[int], int] | None = None
                              ) -> DataFrame:
    """Near-dup pairs for a NEW batch against a growing corpus, without
    ever re-hashing old documents — the continuous corpus-building
    workflow (nightly crawl drops, streaming ingests).

    ``store_dir`` is a two-table parquet store, created on first call:
    ``sig/`` holds (id, _hs shingle-hash array) for exact verification,
    ``bands/`` holds the banded LSH keys (id, _band, _bucket) SHARDED
    by a hash of the band key (llm/store.py) — so old documents are
    neither re-hashed NOR re-banded, ever, the store read prunes to
    the shards the batch actually probes, and the probe join
    broadcasts the (row-gated) batch side against that pruned scan
    instead of shuffling the store: per-batch cost is proportional to
    the batch plus the probed store fraction, never the whole store.
    Each call:

      1. hashes + bands only the new batch (written once, then every
         consumer — banding join, both verify sides, lazy re-executions
         — scans the store parquet instead of recomputing);
      2. emits candidate pairs touching ≥1 new doc: new×old via an
         equi-join of the new batch's band keys against the store's,
         plus new×new via the usual in-bucket pairing;
      3. verifies exact Jaccard on candidates only, reading old shingle
         hashes from the store;
      4. appends happen in step 1 (``update_store``); with
         ``update_store=False`` nothing is written and the batch's
         hashing stays lazy.

    Old–old pairs are never re-emitted — they were reported when their
    younger member arrived. Union of every batch's output == the
    one-shot ``minhash_dedup_pairs`` over the full corpus (asserted in
    tests). The old-side read is pinned to the store's pre-append part
    files, so the lazily evaluated result stays correct after the append.

    Returns (a, b, jaccard) with a < b, jaccard ≥ threshold — except that
    a batch id the store already holds (a re-sent document) pairs with
    its stored copy as (id, id)."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"
    spark = new_df.sparkSession

    # prehashed: new_df already IS an (id, _hs) signature frame (the
    # gate stages its batch hashes once and reuses them here, for the
    # survivor append, and for every verify-side read)
    hs_new = (new_df.select(F.col(id_col), "_hs") if prehashed
              else new_df.select(F.col(id_col),
                                 shingle_hashes(F.col(text_col),
                                                shingle_n).alias("_hs")))
    # pin the read to the store's CURRENT part files: the result plan is
    # lazy, and without pinning the post-run append would leak the new
    # batch into hs_old on a later re-execution (double-counted shingles
    # ⇒ wrong Jaccard). A production deployment would use a table format
    # with snapshot isolation (Iceberg/Delta) instead of raw parquet.
    from etl_tool_spark.llm import store as _st

    n_shards = _check_store_layout(store_dir)
    bands_dir = f"{store_dir}/bands"
    sig_files = _st.flat_files(f"{store_dir}/sig")
    band_files = _st.sharded_files(bands_dir)
    first_batch = not sig_files
    hs_old = None if first_batch else spark.read.parquet(*sig_files)

    new_file_backed = True
    staged_probe = None  # (shards, count) observed during a band write
    if update_store:
        # append FIRST, then pin the new side to its just-written part
        # files: hashing and banding run exactly once — the banding
        # join, both verify sides, and any re-execution of the lazy
        # result all scan the store parquet instead of recomputing (the
        # same signatures-are-a-table shape minhash_dedup_pairs uses
        # via staging_dir).
        hs_new, banded_new, staged_probe = _st.append_and_pin(
            hs_new, store_dir, "sig",
            lambda t: _band_frame(t, id_col, num_hashes, bands),
            ["_band", "_bucket"])
    elif banded_frame is not None:
        # FUSED gate staging: the caller wrote ONE staged table carrying
        # (id, _hs, _bands array) and passes the exploded band view plus
        # the probe it observed during that write (store.
        # fused_probe_observation) — the separate band staging write and
        # its probe job are gone (guide §1.2 fewer passes). Contract:
        # ``banded_frame`` must be file-backed (a pruned scan + explode,
        # never the banding plan itself), or the broadcast row gate and
        # every re-execution would re-run the minhash banding.
        staged_probe = probe
        banded_new = banded_frame
    else:
        banded_new = _band_frame(hs_new, id_col, num_hashes, bands)
        new_file_backed = False

    if first_batch:
        new_new = (_bucket_pairs(banded_new, id_col, max_bucket=max_bucket)
                   .select(_sided(1, "l._id").alias("a"),
                           _sided(1, "r._id").alias("b")))
        cands = new_new.distinct()
    else:
        # the store's banded table, pinned pre-append and PRUNED to the
        # shards the batch probes — old docs are never re-banded, and
        # non-matching shard directories are never read (band_files is
        # empty only when every stored batch was empty; band the stored
        # signatures then). The shard probe doubles as the
        # broadcast row gate's count — observed during the band write
        # when one ran (zero jobs), one aggregate job otherwise
        # (§1.2) — counted BEFORE any hot-bucket filtering, i.e. an
        # upper bound, so the gate can only be conservative.
        n_probe = None
        if band_files:
            shards, n_probe = (staged_probe if staged_probe is not None
                               else _st.probe_shards_and_count(
                                   banded_new, ["_band", "_bucket"],
                                   n_shards))
            banded_old = _st.prune_to_shards(
                _st.read_pinned(spark, bands_dir, band_files), shards)
        else:
            banded_old = _band_frame(hs_old, id_col, num_hashes, bands)
        if max_bucket is not None:
            # the hot-bucket guard must bound the new×old JOIN too, and
            # bucket size is the COMBINED (store + batch) population — a
            # stored bucket just under the cap that the batch pushes over
            # is dropped whole this batch. Sizing costs one count shuffle
            # over band rows, never a pair fan-out. Note the incremental
            # cap is necessarily time-dependent: pairs emitted while a
            # bucket was still small are never retracted when it later
            # goes hot, so under a cap the incremental union is a
            # superset of the one-shot-with-cap result (exact equality
            # holds only for the uncapped default).
            hot = (banded_new.select("_band", "_bucket")
                   .unionByName(banded_old.select("_band", "_bucket"))
                   .groupBy("_band", "_bucket")
                   .agg(F.count(F.lit(1)).alias("_n"))
                   .filter(F.col("_n") > max_bucket)
                   .select("_band", "_bucket"))
            banded_new = banded_new.join(hot, ["_band", "_bucket"], "left_anti")
            banded_old = banded_old.join(hot, ["_band", "_bucket"], "left_anti")
        new_new = (_bucket_pairs(banded_new, id_col)
                   .select(_sided(1, "l._id").alias("a"),
                           _sided(1, "r._id").alias("b")))
        # broadcast the (micro-batch-sized) probe side so the store scan
        # never shuffles; the row gate falls back to sort-merge for an
        # oversized backfill batch. Only when the batch bands are
        # file-backed — the gate's count would otherwise recompute the
        # banding pass (skew.py gated_broadcast contract). The count
        # rode the shard-probe job when one ran (n_probe).
        probe = banded_new.withColumnRenamed(id_col, "_nid")
        if new_file_backed:
            from etl_tool_spark.operators.skew import (BROADCAST_ROW_GATE,
                                                       gated_broadcast)
            if n_probe is not None:
                probe = (F.broadcast(probe) if n_probe <= BROADCAST_ROW_GATE
                         else probe)
            else:
                probe = gated_broadcast(probe)
        new_old = (banded_old
                   .join(probe, ["_band", "_bucket"])
                   .select(_sided(0, id_col).alias("a"),
                           _sided(1, "_nid").alias("b")))
        cands = new_new.unionByName(new_old).distinct()

    # verify rows are keyed by (side, id): an id the store already holds
    # (a re-sent document) keyed by id alone doubles its rows in the
    # verify's intersection and size joins. Its pair with the stored copy
    # comes out as (id, id).
    hs_all = hs_new.select(_sided(1, id_col).alias(id_col), "_hs")
    if hs_old is not None:
        hs_all = hs_all.unionByName(
            hs_old.select(_sided(0, id_col).alias(id_col), "_hs"))
    return (_jaccard_verify(hs_all, cands, id_col, threshold)
            .select(F.least("a.id", "b.id").alias("a"),
                    F.greatest("a.id", "b.id").alias("b"), "jaccard"))


def _sided(side: int, col: str) -> Column:
    """(side, id) verify key: side 0 = stored, 1 = this batch."""
    return F.struct(F.lit(side).alias("side"), F.col(col).alias("id"))


def simhash_from_hashes(th: Column, bits: int = 16) -> Column:
    """SimHash from a precomputed token-hash array: bit b contributes
    +1/-1 by the b-th bit of each token hash; fingerprint bit b is 1 iff
    the sum is > 0. Pure int array walks — map-side, no explode."""
    def bit_sum(b: int) -> Column:  # closure, not lambda-default (see _perm_min)
        return F.aggregate(
            th, F.lit(0),
            lambda acc, h: acc + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1))

    out = F.lit(0).cast("bigint")
    for b in range(bits):
        out = out + F.when(bit_sum(b) > 0,
                           F.lit(2 ** b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return out


def simhash(col: Column, bits: int = 16) -> Column:
    """SimHash fingerprint of a text column. For frame-level use prefer
    ``simhash_buckets``, which materializes the token hashes once instead
    of re-hashing per bit."""
    return simhash_from_hashes(F.transform(tokens(col), hash64), bits)


def simhash_buckets(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", bits: int = 16) -> DataFrame:
    """Docs grouped by identical simhash — the O(n) near-dup bucket pass
    (Hamming-distance banding is the round-2 refinement). Token hashes
    land in their own projection so the md5 work runs once, not
    ``bits`` times."""
    th_frame = df.select(F.col(id_col),
                         F.transform(tokens(F.col(text_col)), hash64).alias("_th"))
    return (th_frame.select(id_col, simhash_from_hashes_vec(F.col("_th"), bits).alias("simhash"))
              .groupBy("simhash")
              .agg(F.count(F.lit(1)).alias("bucket_size"),
                   F.min(id_col).alias("min_doc_id"))
              .filter(F.col("bucket_size") > 1))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 64,
                       blocks: int = 4, max_hamming: int = 3,
                       max_bucket: int | None = None) -> DataFrame:
    """Hamming-distance near-dup pairs over a ``bits``-bit SimHash.

    Pigeonhole banding: any two fingerprints within ``max_hamming`` bit
    flips agree exactly on at least one of ``blocks`` equal bit-blocks
    (requires blocks > max_hamming). Candidates come from grouping on
    (block_id, block_value) and pairing within each bucket — never a
    cross join — then the exact popcount(xor) verifies. The 100 TB
    shape: docs shuffle ``blocks`` times on short keys; block buckets
    are small because each block carries bits/blocks bits of entropy.
    ``max_bucket``: optional hot-bucket cap (see _bucket_pairs)."""
    assert blocks > max_hamming, "pigeonhole needs blocks > max_hamming"
    assert bits % blocks == 0, "blocks must divide bits"
    width = bits // blocks
    mask = (1 << width) - 1

    th_frame = df.select(F.col(id_col),
                         F.transform(tokens(F.col(text_col)), hash64).alias("_th"))
    fp = th_frame.select(id_col, simhash_from_hashes_vec(F.col("_th"), bits).alias("_fp"))

    block_vals = F.array(*[
        F.shiftright(F.col("_fp"), b * width).bitwiseAND(F.lit(mask))
        for b in range(blocks)
    ])
    banded = fp.select(id_col, "_fp",
                       F.posexplode(block_vals).alias("_band", "_bucket"))
    cands = (_bucket_pairs(banded, id_col, payload_cols=("_fp",),
                           max_bucket=max_bucket)
             .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"),
                     F.col("l._fp").alias("_fa"), F.col("r._fp").alias("_fb")))
    hamming = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb")))
    # verify BEFORE the dedup shuffle: the popcount is map-side and cheap,
    # so the distinct only shuffles surviving (a, b, hamming) triples —
    # not every multi-band collision with two 64-bit payloads in tow.
    # hamming is a pure function of (a, b), so distinct on the triple
    # equals distinct on the pair.
    return (cands.filter(hamming <= max_hamming)
                 .select("a", "b", hamming.cast("int").alias("hamming"))
                 .distinct())


def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", sep: str = "\n") -> DataFrame:
    """Corpus-level paragraph deduplication with re-stitch: split every
    document on ``sep``, keep only the GLOBAL first occurrence of each
    exact paragraph (ordered by (id, position)), and reassemble each
    document from its surviving paragraphs in original order.

    This is the paragraph-granularity dedup of the public pretraining
    pipelines (Dolma, CCNet, RefinedWeb): document-level dedup misses
    boilerplate headers/footers/navigation that repeat ACROSS otherwise
    distinct pages, while paragraph-level removal excises exactly the
    repeated spans and keeps the unique prose around them. One canonical
    copy survives (the earliest), so no content is lost corpus-wide.

    Scale shape: one map-side posexplode, then ONE partial-aggregated
    groupBy on the paragraph string that reduces each paragraph to its
    min (id, pos) owner — map-side combine collapses a
    hundred-million-copy boilerplate paragraph to one row per input
    partition, so the hot key never concentrates on a reducer (a
    row_number() window over the paragraph would sort the full
    occurrence list of the hottest paragraph in one task — the shape
    this operator deliberately avoids). The keeper table joins back on
    the paragraph (AQE skew-join splits any residual hot key), and the
    re-stitch is a second partial-agg'd groupBy on the document id.
    Each document row survives even when every paragraph drops (empty
    ``text_col``), so downstream joins never lose keys.

    Returns ``id_col``, rebuilt ``text_col``, ``n_kept``, ``n_dropped``.
    """
    import re

    pat = re.escape(sep)
    paras = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col).cast("string"), pat))
         .alias("_pos", "_para"))
    keeper = (paras.groupBy("_para")
                   .agg(F.min(F.struct("_id", "_pos")).alias("_k")))
    marked = (paras.join(keeper, "_para")
                   .withColumn("_keep",
                               F.struct("_id", "_pos") == F.col("_k")))
    return (marked.groupBy("_id")
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("_keep"),
                                    F.struct("_pos", "_para")))),
                         lambda x: x["_para"]),
                     sep).alias(text_col),
                 F.sum(F.when(F.col("_keep"), 1).otherwise(0))
                  .alias("n_kept"),
                 F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
                  .alias("n_dropped"))
            .withColumnRenamed("_id", id_col))


def incremental_paragraph_dedup(new_df: DataFrame, store_dir: str,
                                id_col: str = "doc_id",
                                text_col: str = "text", sep: str = "\n",
                                update_store: bool = True) -> DataFrame:
    """Paragraph dedup on ingest against a growing fingerprint store:
    each incoming batch drops every paragraph whose md5 was EVER seen —
    in the store or earlier in the batch itself by (id, position) —
    re-stitches the survivors, and appends the kept paragraphs'
    fingerprints. The crawl-side twin of :func:`paragraph_dedup`:
    boilerplate that saturated yesterday's corpus never re-enters with
    today's batch, and old documents are never re-read or re-split
    (per-batch cost ∝ batch). With id-ordered batches, concatenating
    every batch's output equals the one-shot ``paragraph_dedup`` over
    the full corpus (asserted in tests and the catalog fold query).

    Store contract matches ``incremental_exact_dedup``: a parquet
    directory of ``_pfp`` md5 fingerprints, reads pinned to the current
    part files, survivor-only appends."""
    import re

    from etl_tool_spark import commit as C

    spark = new_df.sparkSession
    pat = re.escape(sep)
    paras = new_df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col).cast("string"), pat))
         .alias("_pos", "_para")).withColumn("_pfp", F.md5("_para"))
    # batch-internal keeper: global first (id, pos) per fingerprint —
    # same partial-agg'd min-struct shape as paragraph_dedup
    keeper = (paras.groupBy("_pfp")
                   .agg(F.min(F.struct("_id", "_pos")).alias("_k")))
    marked = (paras.join(keeper, "_pfp")
                   .withColumn("_first",
                               F.struct("_id", "_pos") == F.col("_k")))
    C.recover(store_dir)
    part_files = C.ls(f"{store_dir}/*.parquet")
    if part_files:
        seen = spark.read.parquet(*part_files)
        marked = (marked.join(seen.withColumn("_seen", F.lit(True)),
                              "_pfp", "left")
                        .withColumn("_keep", F.col("_first")
                                    & F.col("_seen").isNull())
                        .drop("_seen"))
    else:
        marked = marked.withColumn("_keep", F.col("_first"))
    if update_store:
        (marked.filter(F.col("_keep")).select("_pfp")
               .write.mode("append").parquet(store_dir))
    return (marked.groupBy("_id")
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("_keep"),
                                    F.struct("_pos", "_para")))),
                         lambda x: x["_para"]),
                     sep).alias(text_col),
                 F.sum(F.when(F.col("_keep"), 1).otherwise(0))
                  .alias("n_kept"),
                 F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
                  .alias("n_dropped"))
            .withColumnRenamed("_id", id_col))
