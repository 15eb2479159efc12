"""Ingest gates and near-dup streams over persistent dedup stores.

The near-dup, clean and semantic gates land a micro-batch through one
skeleton, ``_gate``, and differ only in three hooks:

  stage()          writes the batch derivation once, under
                   ``<store>/gate-staging``, and returns the frame to
                   gate (file-backed when the family stages here);
  pairs(gated)     that frame's near-dup pairs (a < b) against the store;
  append(survivors, batch_id)
                   writes the survivors' keys for every store table into
                   the batch's stage (``store.stage_appends``).

The skeleton owns everything else, in this order: store recovery and
the ``_applied/<batch_id>`` check (a replay of a fully-applied batch is
a no-op), the keep-earliest drop policy (``_gate_survivors``) under a
lazy ``localCheckpoint``, the landing of the survivors in ``out_dir``
BEFORE ``append``, the commit, then the release of the checkpoint
blocks and of the staging directory.

Crash contract. Publishing ``_applied/<batch_id>`` (etl_tool_spark.commit)
is both the batch marker and the manifest of the batch's stage, so all
of a batch's store tables become visible at once or not at all:

* before the publish (after the landing, or mid-stage), the replay
  lands the batch again — at-least-once, keyed by ``batch_id`` — and
  restages it from scratch; land-before-store means a crash can
  duplicate a landing but never silently drop one;
* after the publish (mid-promote included), the next store open
  finishes the promote and the replay is a no-op.

The exact gate (``land_batch``) and the token-budget gate
(``land_budget_batch``) have no pair stage; they keep the same marker
and write order by hand.

Every ``*_stream`` function runs its per-batch function through
``events.stream_foreach_batch`` (foreachBatch + checkpoint, availableNow
trigger). The pair-REPORT stream (``near_dedup_stream``) is plain
at-least-once."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_tool_spark import commit as C
from etl_tool_spark.llm.dedup import (incremental_exact_dedup,
                                      incremental_minhash_pairs)
from etl_tool_spark.llm.text import fingerprint
from etl_tool_spark.streaming.events import stream_foreach_batch

__all__ = ["near_dedup_stream", "exact_dedup_stream",
           "clean_ingest_stream", "land_batch",
           "near_dedup_ingest_stream", "land_near_batch",
           "semantic_ingest_stream", "land_semantic_batch",
           "full_clean_ingest_stream", "land_clean_batch",
           "budget_ingest_stream", "land_budget_batch", "crawl_ingest_stream"]

_STAGING = "gate-staging"


def _applied(store_dir: str, batch_id: int) -> bool:
    """Open the store (finishing any published stage) and check the
    batch's marker: one listing of pending stages plus one stat call,
    never a scan of the growing store or of all markers. A bare empty
    marker file written by earlier code reads as applied too."""
    C.recover(store_dir)
    return C.exists(C.marker(store_dir, batch_id))


def land_batch(batch_df: DataFrame, batch_id: int, store_dir: str,
               out_dir: str, id_col: str = "doc_id",
               text_col: str = "text") -> None:
    """Dedup one batch against the fingerprint store and land the
    survivors — out_dir FIRST, store second. The only intermediate
    state a crash can leave is landed-but-not-remembered, which a
    replay turns into a duplicate landing (at-least-once); the reverse
    order's intermediate state (remembered-but-not-landed) would make
    the replay drop the batch silently. The fingerprints are staged and
    published with the batch marker (module docstring), so a replay of
    a fully-applied batch is a no-op."""
    if _applied(store_dir, batch_id):
        return
    fresh = incremental_exact_dedup(batch_df, store_dir,
                                    id_col=id_col, text_col=text_col,
                                    update_store=False)
    (fresh.withColumn("batch_id", F.lit(batch_id))
          .write.mode("append").parquet(out_dir))
    (fresh.select(fingerprint(F.col(text_col)).alias("_fp"))
          .write.parquet(C.begin(store_dir, batch_id)))
    C.commit(store_dir, batch_id)


def _quality_filter(docs: DataFrame, text_col: str,
                    min_quality: float) -> DataFrame:
    """The cleaning streams' stateless quality + language filter: keep
    rows scoring ``>= min_quality`` whose language is identified. It
    runs on the stream frame itself, so it pushes into each
    micro-batch's scan."""
    from etl_tool_spark.llm.text import language_id, quality_features, tokens

    base = docs.select("*", tokens(F.col(text_col)).alias("_toks"))
    feats = quality_features(F.col(text_col), toks=F.col("_toks"))
    return (base.select("*",
                        feats["quality_score"].alias("_q"),
                        language_id(F.col(text_col),
                                    toks=F.col("_toks")).alias("_lang"))
                .filter((F.col("_q") >= min_quality)
                        & (F.col("_lang") != "und"))
                .drop("_toks", "_q", "_lang"))


def near_dedup_stream(docs: DataFrame, store_dir: str, pairs_dir: str,
                      checkpoint: str, id_col: str = "doc_id",
                      text_col: str = "text", **minhash_kwargs):
    """Run a streaming documents frame through incremental near-dedup.

    ``docs`` is a streaming DataFrame with (id_col, text_col). Discovered
    pairs land in ``pairs_dir`` as parquet (a, b, jaccard, batch_id),
    append-only. Runs with the availableNow trigger (drain-current-files;
    swap the trigger for continuous ingest). Returns the finished query."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        pairs = incremental_minhash_pairs(
            batch_df, store_dir, id_col=id_col, text_col=text_col,
            **minhash_kwargs)
        (pairs.withColumn("batch_id", F.lit(batch_id))
              .write.mode("append").parquet(pairs_dir))

    return stream_foreach_batch(docs, handle, checkpoint)


def exact_dedup_stream(docs: DataFrame, store_dir: str, out_dir: str,
                       checkpoint: str, id_col: str = "doc_id",
                       text_col: str = "text"):
    """Streaming exact dedup-on-ingest: each micro-batch keeps only
    documents whose normalized text was never seen (across ALL prior
    batches, via the persistent fingerprint store) and appends the
    survivors to ``out_dir`` — the always-deduped landing zone. Same
    at-least-once/foreachBatch semantics as near_dedup_stream.

    Write ORDER is the crash-safety contract: survivors land in
    ``out_dir`` BEFORE their fingerprints reach the store (see
    land_batch). A crash in the window between the two writes makes the
    replayed batch re-land the same rows (duplicates, keyed by batch_id
    for consumers to collapse) — at-least-once. The reverse order would
    find every fingerprint already stored on replay and silently drop
    the whole batch: data loss, not duplication."""
    return stream_foreach_batch(
        docs, lambda b, i: land_batch(b, i, store_dir, out_dir,
                                      id_col=id_col, text_col=text_col),
        checkpoint)


def clean_ingest_stream(docs: DataFrame, store_dir: str, out_dir: str,
                        checkpoint: str, id_col: str = "doc_id",
                        text_col: str = "text",
                        min_quality: float = 0.5):
    """The streaming twin of llm/pipeline.py:clean_corpus's filter +
    exact-dedup stages: quality and language filters are STATELESS, so
    they run directly on the stream frame (full pushdown into each
    micro-batch's scan); exact dedup-on-ingest then anti-joins the
    persistent fingerprint store, so the landing zone at ``out_dir`` is
    always-filtered, always-deduped — for any batch split of the input,
    the landed set equals the batch pipeline's filter+dedup output over
    everything ingested (asserted in tests).

    Near-dup discovery is deliberately separate (near_dedup_stream over
    the same store directory family): pair discovery is a *report*,
    while this is the ingest gate — production runs them as two readers
    of one stream."""
    return exact_dedup_stream(_quality_filter(docs, text_col, min_quality),
                              store_dir, out_dir, checkpoint,
                              id_col=id_col, text_col=text_col)


def _gate_survivors(batch_df: DataFrame, pairs: DataFrame,
                    id_col: str) -> DataFrame:
    """Keep-earliest drop policy shared by the minhash and semantic
    ingest gates: given near-dup ``pairs`` (a < b, each touching ≥1
    batch row), drop the batch member of any batch×stored pair (the
    stored side landed first) and the larger id of any in-batch pair.
    Returns the surviving batch rows.

    No broadcast hints here: these frames scale with the micro-batch,
    and an availableNow backfill batch can be arbitrarily large — a
    hinted broadcast bypasses autoBroadcastJoinThreshold and OOMs
    exactly where the batch is biggest. AQE broadcasts small sides from
    runtime stats anyway, which is the right call per batch."""
    ids = batch_df.select(F.col(id_col)).distinct()
    flagged = (pairs
               .join(ids.select(F.col(id_col).alias("a"),
                                F.lit(True).alias("_a_new")),
                     "a", "left")
               .join(ids.select(F.col(id_col).alias("b"),
                                F.lit(True).alias("_b_new")),
                     "b", "left"))
    a_new = F.coalesce(F.col("_a_new"), F.lit(False))
    b_new = F.coalesce(F.col("_b_new"), F.lit(False))
    # pairs always touch >=1 batch doc; a < b by id, or a == b for a
    # batch doc re-sent under a stored id (dropped as in-batch)
    drop = (F.when(a_new & b_new, F.col("b"))       # in-batch: larger id
             .when(a_new & ~b_new, F.col("a"))      # partner stored
             .otherwise(F.col("b")))                # partner stored
    drops = flagged.select(drop.alias(id_col)).distinct()
    return batch_df.join(drops, id_col, "left_anti")


def _gate(batch_df: DataFrame, batch_id: int, store_dir: str,
          out_dir: str, id_col: str, stage: Callable[[], DataFrame],
          pairs: Callable[[DataFrame], DataFrame],
          append: Callable[[DataFrame, int], None]) -> None:
    """Land one batch through a family's hooks (module docstring). The
    landing keeps ``batch_df``'s columns; hook columns of the gated
    frame (staged hashes, band keys) are dropped from it."""
    if _applied(store_dir, batch_id):
        return
    gated = stage()
    # lazy checkpoint: the landing write materializes the gate join once
    # and the store append reads the SAME batch-sized blocks — never a
    # recompute, and never a re-scan of the whole (ever-growing) out_dir
    # to recover ids this batch computed
    survivors = _gate_survivors(gated, pairs(gated), id_col) \
        .localCheckpoint(eager=False)
    (survivors.drop(*[c for c in survivors.columns
                      if c not in batch_df.columns])
              .withColumn("batch_id", F.lit(batch_id))
              .write.mode("append").parquet(out_dir))
    append(survivors, batch_id)
    C.commit(store_dir, batch_id)
    from etl_tool_spark.llm.graph import release_checkpoint
    release_checkpoint(survivors)  # release batch blocks; streams run forever
    C.delete(f"{store_dir}/{_STAGING}")


def _minhash_hooks(batch_df: DataFrame, store_dir: str, id_col: str,
                   text_col: str, minhash_kwargs: dict, exact: bool):
    """(stage, pairs, append) of the minhash gates. ``exact`` adds the
    clean gate's exact-dedup prefix against ``store_dir/fp`` and its
    fingerprint append.

    FUSED staging — ONE write carries the gated rows with their shingle
    hashes, band-key array (and fingerprint): the md5 shingle pass is a
    batch's dominant cost, and without staging it re-ran for banding,
    each verify side, the landing and the store appends. Column pruning
    serves every consumer from the one staged table, and the shard probe
    rides the write as an Observation (store.fused_probe_observation).
    The fixed staging name is safe: foreachBatch batches run one at a
    time, and a crashed batch replays from the marker, overwriting it."""
    from etl_tool_spark.llm import store as _store
    from etl_tool_spark.llm.dedup import (_band_bucket_array,
                                          _check_store_layout,
                                          minhash_from_hashes_vec,
                                          shingle_hashes)

    shingle_n = minhash_kwargs.get("shingle_n", 3)
    num_hashes = minhash_kwargs.get("num_hashes", 16)
    bands = minhash_kwargs.get("bands", 8)
    fp_dir = f"{store_dir}/fp"
    staging = f"{store_dir}/{_STAGING}"
    probe = None

    def banded(df: DataFrame) -> DataFrame:
        return df.select(id_col,
                         F.posexplode("_bands").alias("_band", "_bucket"))

    def stage() -> DataFrame:
        nonlocal probe
        n = _check_store_layout(store_dir)
        src = (incremental_exact_dedup(batch_df, fp_dir, id_col=id_col,
                                       text_col=text_col, update_store=False)
               if exact else batch_df)
        fused = src.withColumn("_hs", shingle_hashes(F.col(text_col),
                                                     shingle_n))
        if exact:
            fused = fused.withColumn("_fp", fingerprint(F.col(text_col)))
        fused = (fused.withColumn("_sig", minhash_from_hashes_vec(
                          F.col("_hs"), num_hashes))
                      .withColumn("_bands", _band_bucket_array(
                          F.col("_sig"), num_hashes, bands))
                      .drop("_sig"))
        observed, resolve = _store.fused_probe_observation(
            fused, _store.shard_array(F.col("_bands"), n, with_index=True), n)
        observed.write.mode("overwrite").parquet(staging)
        probe = resolve()
        return batch_df.sparkSession.read.parquet(staging)

    def pairs(staged: DataFrame) -> DataFrame:
        return incremental_minhash_pairs(
            staged.select(id_col, "_hs"), store_dir, id_col=id_col,
            update_store=False, prehashed=True, banded_frame=banded(staged),
            probe=probe,
            **{k: v for k, v in minhash_kwargs.items() if k != "shingle_n"})

    def append(survivors: DataFrame, batch_id: int) -> None:
        # survivors carry their staged _hs/_bands (and _fp) columns: the
        # stage writes read the checkpoint blocks, never re-banding
        tables = {"sig": survivors.select(id_col, "_hs")}
        if exact:
            tables["fp"] = survivors.select("_fp")
        _store.stage_appends(store_dir, batch_id, tables,
                             banded(survivors), ["_band", "_bucket"])

    return stage, pairs, append


def land_near_batch(batch_df: DataFrame, batch_id: int, store_dir: str,
                    out_dir: str, id_col: str = "doc_id",
                    text_col: str = "text", **minhash_kwargs) -> None:
    """NEAR-dup ingest gate for one batch, keep-earliest policy against
    the LANDED corpus: a batch doc drops if it near-duplicates a stored
    survivor (stored always wins — it landed first) or a smaller-id doc
    of its own batch; survivors land in ``out_dir`` and only THEIR
    signatures enter the store. Gating against landed survivors (not
    everything ever seen) is the principled corpus semantics: a doc that
    resembles only a never-landed duplicate duplicates nothing in the
    corpus. The landed set stays pairwise near-dup-free: both sides of
    any qualifying pair can never land (within a batch the larger id
    drops; across batches the later one drops).

    Same crash contract as every gate (module docstring): a replayed
    batch re-lands (at-least-once, collapse on batch_id), never silently
    drops, and its signatures enter the store exactly once — they become
    visible with the batch marker, so a store copy never flags its own
    replay. A document a LATER batch re-sends under a stored id pairs
    with its stored copy as (id, id) and drops like any near-dup."""
    _gate(batch_df, batch_id, store_dir, out_dir, id_col,
          *_minhash_hooks(batch_df, store_dir, id_col, text_col,
                          minhash_kwargs, exact=False))


def near_dedup_ingest_stream(docs: DataFrame, store_dir: str, out_dir: str,
                             checkpoint: str, id_col: str = "doc_id",
                             text_col: str = "text", **minhash_kwargs):
    """Streaming near-dup dedup-on-ingest: each micro-batch lands only
    documents that near-duplicate neither a previously landed survivor
    nor a smaller-id batch sibling (see land_near_batch). The always-
    near-dup-free landing zone — where near_dedup_stream is the pair
    REPORT over everything ingested, this is the ingest GATE."""
    return stream_foreach_batch(
        docs, lambda b, i: land_near_batch(b, i, store_dir, out_dir,
                                           id_col=id_col, text_col=text_col,
                                           **minhash_kwargs),
        checkpoint)


def land_semantic_batch(batch_df: DataFrame, batch_id: int, store_dir: str,
                        out_dir: str, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.45, **lsh_kwargs) -> None:
    """SEMANTIC (embedding-cosine) ingest gate for one batch — the
    land_near_batch policy verbatim with sign-LSH cosine pairs instead
    of minhash Jaccard pairs: a batch vector drops if it
    cosine-near-duplicates a landed survivor (stored wins) or a
    smaller-id batch sibling; only survivor vectors + band keys enter
    the store (llm/similarity.py incremental store). Same crash
    contract as land_near_batch."""
    from etl_tool_spark.llm import store as _store
    from etl_tool_spark.llm.similarity import incremental_embedding_pairs

    staging = f"{store_dir}/{_STAGING}"

    def pairs(gated: DataFrame) -> DataFrame:
        # norms + sign projections + band keys stage in ONE fused write
        # inside incremental_embedding_pairs (its staging_dir); the
        # append reuses that table, so the batch is projected once
        return incremental_embedding_pairs(
            gated, store_dir, threshold=threshold, id_col=id_col,
            vec_col=vec_col, update_store=False, staging_dir=staging,
            **lsh_kwargs)

    def append(survivors: DataFrame, batch_id: int) -> None:
        landed_ids = survivors.select(id_col).distinct()
        staged = batch_df.sparkSession.read.parquet(staging)
        _store.stage_appends(
            store_dir, batch_id,
            {"vec": staged.select(id_col, vec_col, "_norm")
                          .join(landed_ids, id_col)},
            staged.select(id_col, F.explode("_bkts").alias("_bkt"))
                  .join(landed_ids, id_col),
            ["_bkt"])

    _gate(batch_df, batch_id, store_dir, out_dir, id_col,
          stage=lambda: batch_df, pairs=pairs, append=append)


def semantic_ingest_stream(vecs: DataFrame, store_dir: str, out_dir: str,
                           checkpoint: str, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           threshold: float = 0.45, **lsh_kwargs):
    """Streaming semantic dedup-on-ingest: each micro-batch lands only
    vectors whose cosine similarity to every previously landed survivor
    and every smaller-id batch sibling stays below the threshold — the
    embedding twin of near_dedup_ingest_stream, for corpora deduped on
    meaning (paraphrases, re-encodes) rather than surface text."""
    return stream_foreach_batch(
        vecs, lambda b, i: land_semantic_batch(b, i, store_dir, out_dir,
                                               id_col=id_col, vec_col=vec_col,
                                               threshold=threshold,
                                               **lsh_kwargs),
        checkpoint)


def land_clean_batch(batch_df: DataFrame, batch_id: int, store_dir: str,
                     out_dir: str, id_col: str = "doc_id",
                     text_col: str = "text", **minhash_kwargs) -> None:
    """Full cleaning gate for one (already quality/language-filtered)
    batch — the streaming twin of llm/pipeline.py clean_corpus's dedup
    stages over one store family:

      exact:  keep the min-id representative per normalized fingerprint
              (batch-internal) that is not already fingerprint-stored;
      near:   drop representatives near-duplicating a LANDED survivor
              or a smaller-id batch sibling (_gate_survivors policy);
      land:   survivors append to ``out_dir``; only SURVIVOR
              fingerprints + signatures enter the store — both stores
              describe exactly the landed corpus, so a later exact copy
              of a never-landed doc is judged (correctly) against what
              the corpus actually kept.

    Store layout: ``store_dir/fp`` fingerprints, ``store_dir/sig`` +
    ``store_dir/bands`` minhash tables, ``store_dir/_applied`` batch
    markers; a batch's fp/, sig/ and bands/ rows commit together with
    its marker (module docstring)."""
    _gate(batch_df, batch_id, store_dir, out_dir, id_col,
          *_minhash_hooks(batch_df, store_dir, id_col, text_col,
                          minhash_kwargs, exact=True))


def full_clean_ingest_stream(docs: DataFrame, store_dir: str, out_dir: str,
                             checkpoint: str, id_col: str = "doc_id",
                             text_col: str = "text",
                             min_quality: float = 0.5, **minhash_kwargs):
    """The COMPLETE streaming cleaning pipeline — clean_corpus as an
    ingest gate: stateless quality + language filters run on the stream
    frame (pushed into each micro-batch's scan), then every batch
    passes the exact and near-dup gates against the landed corpus
    (land_clean_batch). The landing zone is always filtered, exactly
    deduped, and pairwise near-dup-free."""
    return stream_foreach_batch(
        _quality_filter(docs, text_col, min_quality),
        lambda b, i: land_clean_batch(b, i, store_dir, out_dir,
                                      id_col=id_col, text_col=text_col,
                                      **minhash_kwargs),
        checkpoint)


def land_budget_batch(batch_df: DataFrame, batch_id: int, store_dir: str,
                      out_dir: str, id_col: str = "doc_id",
                      text_col: str = "text",
                      token_quota: int | None = None,
                      quota_frac: float | None = None) -> None:
    """Token-budget admission gate for one batch: score each document
    (llm/text.py quality features), walk the batch best-quality-first
    and land documents until the batch's token quota is spent — the
    greedy fill of operators/globalorder.py:budget_select, so the
    boundary document that crosses the quota is admitted and everything
    after it is dropped. The throttle for a compute- or
    storage-constrained landing zone that should keep the BEST fraction
    of each ingest cycle, not a random one.

    Exactly one of ``token_quota`` (absolute tokens per batch) or
    ``quota_frac`` (fraction of the batch's own token mass) must be
    given. ``store_dir`` holds only the _applied batch markers —
    replays of a fully-applied batch are no-ops; the admission decision
    itself is a pure function of the batch content, so at-least-once
    replays of an unmarked batch land the same rows (collapse on
    batch_id)."""
    from etl_tool_spark.llm.text import quality_features, token_count, tokens
    from etl_tool_spark.operators.globalorder import budget_select

    if (token_quota is None) == (quota_frac is None):
        raise ValueError("pass exactly one of token_quota / quota_frac")
    if _applied(store_dir, batch_id):
        return
    base = batch_df.select("*", tokens(F.col(text_col)).alias("_toks"))
    feats = quality_features(F.col(text_col), toks=F.col("_toks"))
    scored = base.select("*", feats["quality_score"].alias("_q"),
                         token_count(F.col(text_col)).alias("_nt")) \
                 .drop("_toks")
    # the scored frame feeds the quota total, the band summary, and the
    # offset join-back — a lazy checkpoint runs the tokenize+quality
    # pass once instead of once per reference
    scored = scored.localCheckpoint(eager=False)
    if quota_frac is not None:
        total = scored.agg(F.sum("_nt").alias("_total"))
        scored = scored.crossJoin(F.broadcast(total))
        budget = F.col("_total") * quota_frac
    else:
        budget = F.lit(token_quota)
    sel = budget_select(scored, band="_q",
                        intra_order=[F.col(id_col).asc()],
                        weight="_nt", budget=budget, cum_out="_cum")
    (sel.drop("_cum", "_total")
        .withColumnRenamed("_q", "quality_score")
        .withColumnRenamed("_nt", "n_tokens")
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("append").parquet(out_dir))
    C.commit(store_dir, batch_id)


def budget_ingest_stream(docs: DataFrame, store_dir: str, out_dir: str,
                         checkpoint: str, id_col: str = "doc_id",
                         text_col: str = "text",
                         token_quota: int | None = None,
                         quota_frac: float | None = None):
    """Streaming token-budget admission: every micro-batch lands its
    best-quality documents up to the quota (land_budget_batch). Same
    foreachBatch + marker delivery contract as the dedup gates."""
    return stream_foreach_batch(
        docs, lambda b, i: land_budget_batch(b, i, store_dir, out_dir,
                                             id_col=id_col, text_col=text_col,
                                             token_quota=token_quota,
                                             quota_frac=quota_frac),
        checkpoint)


def crawl_ingest_stream(archives: DataFrame, store_dir: str, out_dir: str,
                        checkpoint: str, id_col: str = "media_id",
                        payload_col: str = "payload"):
    """Streaming web-crawl ingestion: each micro-batch of WARC archive
    blobs is split into records (llm/warc.py — map-side explode),
    response blocks stripped back to prose (html_to_text, pure Column),
    language-routed, and passed through the exact dedup-on-ingest gate
    — survivors land in ``out_dir`` with (id, target_uri, lang, text),
    fingerprints in the persistent store, so a page crawled twice in
    ANY later batch never lands twice. Composition of the archive
    walker with land_batch's crash-safety contract: out_dir before
    store, batch markers make replays no-ops, at-least-once in the
    crash window (see land_batch). This is the Common Crawl ingest
    loop as one availableNow stream."""
    from etl_tool_spark.llm.prep import html_to_text
    from etl_tool_spark.llm.text import language_id, tokens
    from etl_tool_spark.llm.warc import warc_records

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        recs = warc_records(
            batch_df.withColumnRenamed(id_col, "media_id"),
            payload_col=payload_col)
        pages = (recs.filter(F.col("warc_type") == "response")
                     .select("media_id", "target_uri",
                             F.col("block").cast("string").alias("_page")))
        ext = pages.select("media_id", "target_uri",
                           html_to_text(F.col("_page")).alias("text"))
        # token array in its own projection (language_id contract: stops
        # CollapseProject re-inlining the split per stopword counter)
        toked = ext.select("*", tokens(F.col("text")).alias("_toks"))
        docs = toked.select("media_id", "target_uri", "text",
                            language_id(F.col("text"), toks=F.col("_toks"))
                             .alias("lang"))
        land_batch(docs, batch_id, store_dir, out_dir,
                   id_col="media_id", text_col="text")

    return stream_foreach_batch(archives, handle, checkpoint)
