"""Unit tests for the LLM-data operators on tiny in-memory frames."""

import pytest
from pyspark.sql import functions as F

from etl_tool_spark.llm import dedup as D
from etl_tool_spark.llm import multimodal as M
from etl_tool_spark.llm import similarity as S
from etl_tool_spark.llm import text as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "completely different text about spark engines here"),
        (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = D.exact_dedup(docs).collect()
    groups = {r["doc_id"]: r["dup_count"] for r in out}
    assert groups[1] == 2          # docs 1+4 collapse, rep = min id
    assert 4 not in groups
    assert groups[2] == 1


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    out = df.select(D.shingles(F.col("text"), 3).alias("sh")).collect()
    assert out[0]["sh"] == ["a b c", "b c d"]
    assert out[1]["sh"] == ["a b"]  # shorter than n ⇒ whole text


def test_minhash_similar_docs_collide(spark, docs):
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    assert (1, 4) in found          # exact dups always collide
    assert all(j >= 0.5 for j in [r["jaccard"] for r in pairs])


def test_jaccard_exact_value(spark, docs):
    cands = spark.createDataFrame([(1, 2)], "a long, b long")
    out = D.jaccard_pairs(docs, cands, threshold=0.0).collect()
    # 7 shingles each, 6 shared → 6/8
    assert out[0]["jaccard"] == 0.75


def test_simhash_exact_dups_equal(spark, docs):
    out = {r["doc_id"]: r["sh"] for r in
           docs.select("doc_id", D.simhash(F.col("text")).alias("sh")).collect()}
    assert out[1] == out[4]
    assert out[1] != out[3]
    assert 0 <= out[1] < 2 ** 16


def test_language_id(spark):
    df = spark.createDataFrame([
        (1, "the cat and the dog of the house"),
        (2, "el gato y la casa de los perros"),
        (3, "zzz qqq xxx"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", X.language_id(F.col("text")).alias("lang")).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame([("hello world, x2!",), ("",)], "text string")
    out = df.select(X.token_count(F.col("text")).alias("n"),
                    X.bpe_ish_token_count(F.col("text")).alias("b")).collect()
    assert out[0]["n"] == 3
    # hello | world | , | x | 2 | !
    assert out[0]["b"] == 6
    assert out[1]["n"] == 0


def test_cosine_similarity(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
                               "a array<float>, b array<float>")
    out = df.select(F.round(S.cosine(F.col("a"), F.col("b")), 6).alias("c")).collect()
    assert out[0]["c"] == 0.0
    assert out[1]["c"] == 1.0


def test_brute_force_topk_ranks(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 6)], "vec_id long, embedding array<float>")
    queries = spark.createDataFrame([(100, [1.0, 0.0])],
                                    "query_id long, embedding array<float>")
    out = S.brute_force_topk(corpus, queries, k=2).collect()
    assert [r["vec_id"] for r in out] == [5, 4]  # most aligned with x-axis


def test_lsh_topk_subset_of_exact(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(1, 30)],
        "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") <= 2) \
                    .select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.lsh_topk(corpus, queries, k=3, dim=3, bands=2, rows_per_band=1).collect()
    assert len(out) > 0
    assert all(r["cosine_sim"] <= 1.000001 for r in out)
    # approximate results must be a subset of what brute force would rank
    exact = {(r["query_id"], r["vec_id"])
             for r in S.brute_force_topk(corpus, queries, k=29).collect()}
    assert {(r["query_id"], r["vec_id"]) for r in out} <= exact


def test_multimodal_stub_pipeline(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"fake-image-bytes")), (2, None)],
        "media_id long, payload binary")
    with_meta = M.attach_media_metadata(media)
    rows = {r["media_id"]: r for r in with_meta.collect()}
    assert rows[1]["n_bytes"] == 16 and rows[1]["sha256"] is not None
    feats = M.decode_image_features(media).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id[1]["feature"]) == 8
    assert by_id[2]["feature"] is None
    frames = M.sample_video_frames(media).collect()
    assert len(frames) == 3 and {r["media_id"] for r in frames} == {1}


def test_image_features_real_decode_dispatch(spark):
    """decode_image_features must route recognized containers through
    the REAL stdlib decoders (round-7 verdict item 6): a PNG payload
    reports its actual dimensions and pixel mean (not sha-derived
    fakes), a recognized-but-corrupt container yields null features,
    and only unrecognized payloads fall back to the documented stub."""
    import hashlib as _hl

    import numpy as np

    grey = np.full((5, 6), 80, dtype=np.int32)
    png = _png_bytes(grey, 0, [0, 0, 0, 0, 0])
    broken_png = png[:16]  # magic matches, structure does not
    rows = [(1, bytearray(png)), (2, bytearray(broken_png)),
            (3, bytearray(b"plain text payload"))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in M.decode_image_features(media).collect()}

    # real decode: dims from IHDR, f0 = mean/255, f1 aspect, f2/f3 ratios
    assert (got[1]["width"], got[1]["height"]) == (6, 5)
    f = got[1]["feature"]
    assert abs(f[0] - 80 / 255.0) < 1e-9
    assert abs(f[1] - 5 / 6) < 1e-9
    assert abs(f[2] - 30 / 65536.0) < 1e-9
    assert abs(f[3] - min(1.0, len(png) / 90.0)) < 1e-9
    assert f[4] == 0.0 and len(f) == 8

    # recognized container, unparseable → null row, batch survives
    assert got[2]["width"] is None and got[2]["feature"] is None

    # unrecognized → documented deterministic sha fallback
    digest = _hl.sha256(b"plain text payload").digest()
    assert got[3]["width"] == 1 + digest[0]
    assert got[3]["feature"][0] == digest[2] / 255.0

    # strict mode: unrecognized payloads raise instead of stubbing
    import pytest as _pytest

    only_text = spark.createDataFrame([rows[2]],
                                      "media_id long, payload binary")
    with _pytest.raises(Exception, match="unrecognized image payload"):
        M.decode_image_features(only_text, strict=True).collect()
    # ...but a REAL decodable payload passes strict mode fine
    only_png = spark.createDataFrame([rows[0]],
                                     "media_id long, payload binary")
    assert M.decode_image_features(only_png, strict=True).count() == 1


def test_mp3_frame_header_metadata(spark):
    """mp3_info reads version/layer/bitrate/sample-rate/channels and an
    exact frame-walked duration from hand-built MPEG1 Layer III CBR
    frames (128 kbps, 44100 Hz, stereo: header FF FB 90 00, frame
    length 144*128000/44100 = 417 bytes), skipping a leading ID3v2 tag.
    A VBR stream (mixed bitrate indexes) flips the vbr flag; junk
    payloads yield nulls."""
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + bytes(413)   # 417 total
    id3 = b"ID3" + bytes([3, 0, 0, 0, 0, 0, 10]) + bytes(10)
    cbr = id3 + frame * 10
    # same stream but alternating 128/160 kbps (idx 9 / 10)
    f160 = bytes([0xFF, 0xFB, 0xA0, 0x00]) + bytes(518)    # 522 total
    vbr = (frame + f160) * 3
    rows = [(1, bytearray(cbr)), (2, bytearray(vbr)), (3, bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r.asDict() for r in M.mp3_info(df).collect()}
    one = got[1]
    assert (one["mpeg_version"], one["layer"], one["bitrate_kbps"],
            one["sample_rate"], one["n_channels"]) == ("1", 3, 128, 44100, 2)
    assert one["n_frames"] == 10 and not one["vbr"]
    assert abs(one["duration_s"] - 10 * 1152 / 44100) < 1e-3
    assert got[2]["vbr"] and got[2]["n_frames"] == 6
    assert got[3]["mpeg_version"] is None and got[3]["n_frames"] is None
    # probe_media routes both to audio/mpeg without touching payload data
    probe = {r["media_id"]: r["mime_type"]
             for r in M.probe_media(df).collect()}
    assert probe[1] == "audio/mpeg" and probe[2] == "audio/mpeg"
    assert probe[3] is None


def test_multimodal_strict_raises(spark):
    media = spark.createDataFrame([(1, bytearray(b"x"))], "media_id long, payload binary")
    with pytest.raises(Exception):  # NotImplementedError crosses the Py4J boundary wrapped
        M.sample_video_frames(media, strict=True).collect()


def test_simhash_near_pairs_detects_near_dup(spark, docs):
    out = D.simhash_near_pairs(docs, bits=48, blocks=8, max_hamming=6).collect()
    found = {(r["a"], r["b"]): r["hamming"] for r in out}
    assert found.get((1, 4)) == 0          # exact dups: identical fingerprint
    assert all(h <= 6 for h in found.values())
    with pytest.raises(AssertionError):    # pigeonhole guard
        D.simhash_near_pairs(docs, bits=48, blocks=4, max_hamming=6)


def test_minhash_staging_dir_equivalent(spark, docs, tmp_path):
    plain = sorted(map(tuple, D.minhash_dedup_pairs(docs, threshold=0.5).collect()))
    staged = sorted(map(tuple, D.minhash_dedup_pairs(
        docs, threshold=0.5, staging_dir=str(tmp_path / "sig")).collect()))
    assert plain == staged


def test_connected_components_chain_and_islands(spark):
    from etl_tool_spark.llm import graph as G

    # chain 1-2-3-4-5 (diameter 4), island pair 10-11, triangle 20-21-22
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "a long, b long")
    labels = {r["id"]: r["label"]
              for r in G.connected_components(edges, "a", "b").collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                      10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_releases_round_checkpoints(spark):
    from etl_tool_spark.llm import graph as G

    # the fixpoint must not pin one RDD per round (or leak the edges
    # frame): after materializing, exactly ONE checkpoint — the returned
    # labels frame's own data — may remain per call
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "a long, b long")
    labels = G.connected_components(edges, "a", "b")
    labels.count()
    leftover = [i for i in jsc.getPersistentRDDs().keySet().toArray()
                if i not in before]
    assert len(leftover) == 1
    jsc.getPersistentRDDs().get(leftover[0]).unpersist(True)


def test_connected_components_empty_and_unconverged(spark):
    from etl_tool_spark.llm import graph as G

    empty = spark.createDataFrame([], "a long, b long")
    assert G.connected_components(empty, "a", "b").count() == 0
    chain = spark.createDataFrame([(i, i + 1) for i in range(6)], "a long, b long")
    with pytest.raises(G.ConvergenceError):
        G.connected_components(chain, "a", "b", max_iter=2)


def test_ivf_topk_subset_of_exact_and_deterministic(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(1, 40)],
        "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") <= 2) \
                    .select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.ivf_topk(corpus, queries, k=3, nlist=4, nprobe=2).collect()
    assert len(out) > 0
    exact = {(r["query_id"], r["vec_id"])
             for r in S.brute_force_topk(corpus, queries, k=39).collect()}
    assert {(r["query_id"], r["vec_id"]) for r in out} <= exact
    # deterministic: seeded kmeans + deterministic sample => identical reruns
    again = S.ivf_topk(corpus, queries, k=3, nlist=4, nprobe=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_ivf_full_probe_equals_brute_force(spark):
    # nprobe == nlist degenerates to exact search: recall must be 1.0
    corpus = spark.createDataFrame(
        [(i, [float((i * 13) % 11), float(i % 5), 1.0]) for i in range(1, 40)],
        "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") <= 3) \
                    .select(F.col("vec_id").alias("query_id"), "embedding")
    ivf = {(r["query_id"], r["vec_id"], r["rank"])
           for r in S.ivf_topk(corpus, queries, k=5, nlist=4, nprobe=4).collect()}
    bf = {(r["query_id"], r["vec_id"], r["rank"])
          for r in S.brute_force_topk(corpus, queries, k=5).collect()}
    assert ivf == bf


def test_clean_corpus_transitive_vs_pairwise(spark):
    """Star graph with a HIGH-id center: doc1 ~ doc3 and doc2 ~ doc3 but
    doc1 !~ doc2. Pairwise drop-higher-id only removes doc3 (the only
    higher side), keeping both 1 and 2; transitive collapse keeps just
    the component min. This is exactly the case the fixpoint exists for."""
    from etl_tool_spark.llm.pipeline import clean_corpus

    w = [f"w{i:02d}" for i in range(40)]
    # "the" satisfies the language filter; it heads each doc so it adds a
    # distinct shingle per doc and doesn't join the shared windows
    x, y, z = ("the " + " ".join(w[0:20]), "the " + " ".join(w[5:25]),
               "the " + " ".join(w[10:30]))
    rows = [(1, x), (2, z), (3, y),   # y (id 3) bridges x and z
            (4, "the completely unrelated document about spark physics engines")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pair_ids = sorted(r["doc_id"] for r in
                      clean_corpus(df, min_quality=0.0,
                                   jaccard_threshold=0.5).collect())
    trans_ids = sorted(r["doc_id"] for r in
                       clean_corpus(df, min_quality=0.0, jaccard_threshold=0.5,
                                    transitive=True).collect())
    assert pair_ids == [1, 2, 4]   # doc2 survives: never a higher side
    assert trans_ids == [1, 4]     # component {1,2,3} collapses to 1


def test_vectorized_minhash_equals_hof(spark, sf_dir=None):
    """The Arrow-batched minhash/simhash twins must be bit-identical to
    the HOF oracle-shape forms on real document text (incl. short docs
    and the empty string, where tokens() yields [''])."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    hs = docs.select("doc_id", D.shingle_hashes(F.col("text")).alias("_hs"))
    both = hs.select(
        "doc_id",
        D.minhash_from_hashes_vec(F.col("_hs"), 16).alias("vec"),
        F.array(*[D._perm_min(F.col("_hs"), i) for i in range(16)]).alias("hof"))
    bad = both.filter(F.col("vec") != F.col("hof")).count()
    assert bad == 0


def test_vectorized_simhash_equals_hof(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    extra = spark.createDataFrame([(100001, ""), (100002, "one")],
                                  "doc_id long, text string")
    th = (docs.select("doc_id", "text").unionByName(extra)
              .select("doc_id", F.transform(X.tokens(F.col("text")), X.hash64).alias("_th")))
    # 48 = the catalog's near-pairs width; 63 bounds the HOF form (the
    # 2^63 bigint literal for bit 63 exceeds JVM long — vec handles 64
    # via its unreachable-bit guard, but can only be cross-checked to 63)
    for bits in (16, 48, 63):
        both = th.select(
            D.simhash_from_hashes_vec(F.col("_th"), bits).alias("vec"),
            D.simhash_from_hashes(F.col("_th"), bits).alias("hof"))
        assert both.filter(F.col("vec") != F.col("hof")).count() == 0


def test_lsh_hot_bucket_cap(spark):
    """max_bucket drops degenerate buckets whole: 40 identical boilerplate
    docs (one hot bucket per band) emit no pairs under the cap, while a
    genuine near-dup pair in a small bucket survives."""
    boiler = [(i, "the exact same boilerplate line repeated verbatim")
              for i in range(40)]
    near = [(100, "alpha beta gamma delta epsilon zeta eta theta"),
            (101, "alpha beta gamma delta epsilon zeta eta iota")]
    df = spark.createDataFrame(boiler + near, "doc_id long, text string")
    capped = D.lsh_candidate_pairs(df, max_bucket=10).collect()
    ids = {i for r in capped for i in (r["a"], r["b"])}
    assert (100, 101) in {(r["a"], r["b"]) for r in capped}
    assert all(i >= 100 for i in ids), "boilerplate bucket must be dropped whole"
    # default (None) keeps every bucket: 40 docs → C(40,2) boilerplate pairs
    full = D.lsh_candidate_pairs(df).count()
    assert full == 40 * 39 // 2 + 1


def test_incremental_minhash_equals_one_shot(spark, tmp_path):
    """Batch-by-batch incremental dedup must reproduce exactly the
    one-shot pair set over the full corpus: batch1 reports its internal
    pairs, batch2 reports new-new plus new-old pairs, nothing twice."""
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                 .limit(300).cache())
    full = {(r["a"], r["b"]): r["jaccard"]
            for r in D.minhash_dedup_pairs(docs).collect()}
    store = str(tmp_path / "sig_store")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    p1 = {(r["a"], r["b"]): r["jaccard"]
          for r in D.incremental_minhash_pairs(b1, store).collect()}
    p2 = {(r["a"], r["b"]): r["jaccard"]
          for r in D.incremental_minhash_pairs(b2, store).collect()}
    assert not set(p1) & set(p2), "no pair reported twice"
    merged = {**p1, **p2}
    assert merged == full
    # store now holds every doc's signatures exactly once, and the
    # banded LSH keys table alongside (old docs are never re-banded)
    assert spark.read.parquet(store + "/sig").count() == docs.count()
    assert spark.read.parquet(store + "/bands").count() == 8 * docs.count()
    docs.unpersist()


def test_incremental_result_valid_after_store_append(spark, tmp_path):
    """The returned frame is lazy; re-executing it AFTER the store append
    must not double-count the new batch (old-side read is pinned to the
    pre-append part files)."""
    store = str(tmp_path / "sig_store")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"
    b1 = spark.createDataFrame(
        [(1, base + " omega")], "doc_id long, text string")
    D.incremental_minhash_pairs(b1, store).count()
    b2 = spark.createDataFrame(
        [(2, base + " sigma")], "doc_id long, text string")
    pairs = D.incremental_minhash_pairs(b2, store)
    first = pairs.collect()           # executes after the append
    second = pairs.collect()          # re-executes on the mutated store dir
    assert first == second
    assert [(r["a"], r["b"]) for r in first] == [(1, 2)]


def test_null_text_does_not_poison_batch(spark):
    """A null-text row ([null] shingle-hash array) must not corrupt its
    Arrow batch-mates' signatures: without the JVM-side null-element
    filter, pyarrow hands the batch's child array over as float64 and
    every 60-bit hash in the batch loses precision past 2^53."""
    good = [(i, f"alpha beta gamma delta epsilon word{i} zeta eta theta")
            for i in range(50)]
    df_clean = spark.createDataFrame(good, "doc_id long, text string") \
                    .coalesce(1)
    df_dirty = spark.createDataFrame(good + [(999, None)],
                                     "doc_id long, text string").coalesce(1)

    def sigs(df):
        hs = df.select("doc_id", D.shingle_hashes(F.col("text")).alias("_hs"))
        return {r["doc_id"]: r["s"] for r in
                hs.select("doc_id",
                          D.minhash_from_hashes_vec(F.col("_hs"), 16).alias("s"))
                  .collect()}

    clean, dirty = sigs(df_clean), sigs(df_dirty)
    assert dirty[999] is None          # null text → null signature
    assert {k: v for k, v in dirty.items() if k != 999} == clean


def test_incremental_hot_bucket_cap_spans_store(spark, tmp_path):
    """The incremental cap measures COMBINED (store + batch) bucket size:
    a stored bucket just under the cap that the new batch pushes over is
    dropped whole, while genuine pairs in small buckets still emit."""
    boiler = "the exact same boilerplate line repeated verbatim"
    store = str(tmp_path / "store")
    b1 = spark.createDataFrame(
        [(i, boiler) for i in range(30)]
        + [(100, "alpha beta gamma delta epsilon zeta eta theta iota one")],
        "doc_id long, text string")
    D.incremental_minhash_pairs(b1, store, threshold=0.7, max_bucket=40).count()
    b2 = spark.createDataFrame(
        [(i, boiler) for i in range(200, 220)]
        + [(101, "alpha beta gamma delta epsilon zeta eta theta iota two")],
        "doc_id long, text string")
    got = D.incremental_minhash_pairs(b2, store, threshold=0.7,
                                      max_bucket=40, update_store=False).collect()
    ids = {i for r in got for i in (r["a"], r["b"])}
    # 30 stored + 20 new boilerplate = 50 > 40 ⇒ bucket dropped whole,
    # across the store boundary too; the real near-dup pair survives
    assert (100, 101) in {(r["a"], r["b"]) for r in got}
    assert ids == {100, 101}
    # uncapped: the join emits the 30x20 cross-batch boilerplate pairs
    uncapped = D.incremental_minhash_pairs(b2, store, threshold=0.7,
                                           update_store=False).count()
    assert uncapped == 30 * 20 + 20 * 19 // 2 + 1


def test_repetition_stats_values(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"),            # 3 toks, 2 distinct; bigrams: "a a","a b"
         (2, "x"),                # single token → no bigrams
         (3, "go go go go"),      # pure repetition
         (4, "   ")],             # blank → excluded
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in X.repetition_stats(docs).collect()}
    assert set(got) == {1, 2, 3}
    r1 = got[1]
    assert r1["n_tokens"] == 3
    assert r1["distinct_ratio"] == pytest.approx(2 / 3, abs=1e-6)
    assert r1["top_token_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert r1["top_bigram_frac"] == 0.5
    r2 = got[2]
    assert (r2["n_tokens"], r2["top_bigram_frac"]) == (1, 0.0)
    assert r2["distinct_ratio"] == 1.0
    r3 = got[3]
    assert r3["top_token_frac"] == 1.0 and r3["top_bigram_frac"] == 1.0
    assert r3["distinct_ratio"] == 0.25


def test_incremental_exact_dedup_matches_one_shot(spark, tmp_path):
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "ALPHA   beta"),     # dups of each other
         (2, "gamma"), (3, "delta"),
         (10, "gamma"),                              # dup of 2, later batch
         (11, "epsilon"), (12, "Epsilon  "),         # in-batch dup pair
         (13, "alpha beta")],                        # dup of 0, later batch
        "doc_id long, text string")
    store = str(tmp_path / "fp_store")
    b1 = D.incremental_exact_dedup(docs.filter("doc_id < 10"), store)
    got1 = sorted(r["doc_id"] for r in b1.collect())
    b2 = D.incremental_exact_dedup(docs.filter("doc_id >= 10"), store)
    got2 = sorted(r["doc_id"] for r in b2.collect())
    assert got1 == [0, 2, 3]
    assert got2 == [11]  # 10/13 seen in store; 12 loses the in-batch tie
    one_shot = sorted(r["doc_id"] for r in D.exact_dedup(docs).collect())
    assert sorted(got1 + got2) == one_shot
    # survivors keep their original columns
    assert set(b1.columns) == {"doc_id", "text"}
    # re-ingesting an already-stored batch is idempotent: its survivors'
    # fingerprints are in the store, so nothing comes back
    again = D.incremental_exact_dedup(docs.filter("doc_id >= 10"), store,
                                      update_store=False)
    assert again.count() == 0


def test_boilerplate_ngrams_toy(spark):
    """8-grams recurring across distinct docs; per-doc repeats count
    once; short docs contribute nothing."""
    eight = "t1 t2 t3 t4 t5 t6 t7 t8"
    docs = spark.createDataFrame(
        [(1, f"{eight} tail"),                 # gram at pos 1 (+1 shifted)
         (2, f"head {eight}"),                 # same gram, another doc
         (3, f"{eight} mid {eight}"),          # contains it twice → counts once
         (4, "too short"),
         (5, "u1 u2 u3 u4 u5 u6 u7 u8")],      # unique gram, 1 doc → filtered
        "doc_id long, text string")
    got = {r["gram"]: (r["n_docs"], r["first_doc"])
           for r in X.boilerplate_ngrams(docs).collect()}
    assert got[eight] == (3, 1)
    assert all(n >= 2 for n, _ in got.values())
    assert "u1 u2 u3 u4 u5 u6 u7 u8" not in got


def test_ivf_persisted_index_matches_inmemory(spark, tmp_path):
    """ivf_build_index + ivf_search ≡ ivf_topk with the same centroids
    (the train-once/serve-many split changes operations, not results),
    and the probe join prunes the cell-partitioned vectors at runtime
    (dynamic partition pruning in the search plan)."""
    import etl_tool_spark.llm.similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5) \
                 .select(F.col("vec_id").alias("query_id"), "embedding")
    idx = str(tmp_path / "ivf")
    cents = S.ivf_build_index(emb, idx, nlist=8)
    got = S.ivf_search(spark, idx, queries, k=5, nprobe=4)
    want = S.ivf_topk(emb, queries, k=5, nlist=8, nprobe=4, centroids=cents)
    grows = sorted(tuple(r) for r in got.collect())
    wrows = sorted(tuple(r) for r in want.collect())
    assert grows == wrows and len(grows) == 25
    p = spark._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted")
    assert "dynamicpruning" in p or "PartitionFilters: [isnotnull(cell" in p
    # the on-disk layout really is one directory per cell
    import os

    cells = [d for d in os.listdir(idx + "/vectors") if d.startswith("cell=")]
    assert len(cells) == 8


def _make_wav(freq=440.0, sr=8000, seconds=0.25, amp=0.5):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    n = int(sr * seconds)
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        frames = b"".join(
            struct.pack("<h", int(amp * 32767 *
                                  math.sin(2 * math.pi * freq * i / sr)))
            for i in range(n))
        w.writeframes(frames)
    return buf.getvalue()


def _make_bmp(width=4, height=2, bgr=(10, 20, 30)):
    import struct

    stride = (width * 3 + 3) & ~3
    pixels = bytearray()
    for _ in range(height):
        row = bytes(bgr) * width
        pixels += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    size = off + len(pixels)
    header = (b"BM" + struct.pack("<IHHI", size, 0, 0, off)
              + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                            len(pixels), 0, 0, 0, 0))
    return header + bytes(pixels)


def test_wav_decode_real_features(spark):
    """decode_wav_features does REAL signal decode: a generated sine WAV
    yields its exact sample rate / frame count and RMS ≈ amp/√2."""
    from etl_tool_spark.llm.multimodal import decode_wav_features

    wav = _make_wav(sr=8000, seconds=0.25, amp=0.5)
    df = spark.createDataFrame([(1, bytearray(wav)), (2, bytearray(b"junk")),
                                (3, None)],
                               "media_id long, payload binary")
    got = {r["media_id"]: r for r in decode_wav_features(df).collect()}
    r1 = got[1]
    assert (r1["sample_rate"], r1["n_channels"], r1["n_frames"]) == (8000, 1, 2000)
    assert r1["duration_s"] == 0.25
    assert abs(r1["rms"] - 0.5 / 2 ** 0.5) < 0.01   # sine RMS = amp/√2
    assert got[2]["sample_rate"] is None            # malformed → nulls
    assert got[3]["rms"] is None


def test_bmp_decode_real_features(spark):
    from etl_tool_spark.llm.multimodal import decode_bmp_features

    bmp = _make_bmp(width=4, height=2, bgr=(10, 20, 30))
    df = spark.createDataFrame([(1, bytearray(bmp)), (2, bytearray(b"nope"))],
                               "media_id long, payload binary")
    got = {r["media_id"]: r for r in decode_bmp_features(df).collect()}
    r1 = got[1]
    assert (r1["width"], r1["height"], r1["bits_per_pixel"]) == (4, 2, 24)
    assert r1["mean_pixel"] == 20.0                 # mean of 10/20/30
    assert got[2]["width"] is None


def test_connected_components_star_matches_label_propagation(spark):
    """Differential: the O(log n)-round star variant must produce the
    identical (id -> component-min) labeling as min-label propagation
    on assorted random graphs."""
    import random

    from etl_tool_spark.llm import graph as G

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(8, 40)
        m = rng.randint(4, 60)
        edges = set()
        while len(edges) < m:
            a, b = rng.randrange(n), rng.randrange(n)
            edges.add((min(a, b), max(a, b)))   # self-loops included
        df = spark.createDataFrame(sorted(edges), "a long, b long")
        lab = {r["id"]: r["label"]
               for r in G.connected_components(df, "a", "b").collect()}
        star = {r["id"]: r["label"]
                for r in G.connected_components_star(df, "a", "b").collect()}
        assert star == lab, f"trial {trial}: {star} != {lab}"


def test_connected_components_star_handles_deep_chain(spark):
    """A 200-node chain: diameter 199 defeats label propagation at its
    default budget, while the star variant converges in O(log n)."""
    import pytest as _pytest

    from etl_tool_spark.llm import graph as G

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "a long, b long")
    with _pytest.raises(G.ConvergenceError):
        G.connected_components(chain, "a", "b", max_iter=10)
    labels = {r["id"]: r["label"] for r in
              G.connected_components_star(chain, "a", "b").collect()}
    assert labels == {i: 0 for i in range(201)}


def _png_bytes(arr, ctype, row_filters):
    """Minimal PNG encoder for tests: 8-bit, non-interlaced, one
    scanline filter per row (applied per the spec, so the decoder must
    actually reconstruct)."""
    import binascii
    import struct
    import zlib

    import numpy as np

    ch = {0: 1, 2: 3, 6: 4}[ctype]
    h, stride = arr.shape
    w = stride // ch

    def paeth(a, b, c):
        q = a + b - c
        pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    for y, f in zip(range(h), row_filters):
        raw.append(f)
        prev = arr[y - 1] if y else np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            a = int(arr[y, x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2,
                    4: paeth(a, b, c)}[f]
            raw.append((int(arr[y, x]) - pred) & 0xFF)

    def chunk(typ, data):
        crc = binascii.crc32(typ + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_png_decode_real_pixels(spark):
    """The stdlib PNG decoder reconstructs actual pixel values through
    all five scanline filters; mean intensity must equal the source
    array's mean exactly."""
    import numpy as np

    rng = np.random.RandomState(3)
    grey = rng.randint(0, 256, size=(5, 6), dtype=np.uint8).astype(np.int32)
    rgb = rng.randint(0, 256, size=(4, 7 * 3), dtype=np.uint8).astype(np.int32)
    payloads = [
        (1, bytearray(_png_bytes(grey, 0, [0, 1, 2, 3, 4]))),
        (2, bytearray(_png_bytes(rgb, 2, [4, 3, 1, 2]))),
        (3, bytearray(b"not a png at all")),
        (4, None),
    ]
    media = spark.createDataFrame(payloads, "media_id long, payload binary")
    rows = {r["media_id"]: r for r in M.decode_png_features(media).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (6, 5)
    assert rows[1]["color_type"] == 0
    assert rows[1]["mean_pixel"] == round(float(grey.mean()), 6)
    assert (rows[2]["width"], rows[2]["height"]) == (7, 4)
    assert rows[2]["color_type"] == 2
    assert rows[2]["mean_pixel"] == round(float(rgb.mean()), 6)
    assert rows[3]["width"] is None
    assert rows[4]["width"] is None


def test_probe_media_sniffs_formats(spark):
    import struct

    import numpy as np

    grey = np.zeros((2, 3), dtype=np.int32)
    png = bytes(_png_bytes(grey, 0, [0, 0]))
    gif = b"GIF89a" + struct.pack("<HH", 12, 34) + b"\x00" * 10
    bmp = (b"BM" + b"\x00" * 16 + struct.pack("<ii", 7, -9) + b"\x00" * 20)
    # minimal JPEG: SOI, APP0 (empty), SOF0 with h=21 w=37
    jpeg = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 2)
            + b"\xff\xc0" + struct.pack(">H", 8) + b"\x08"
            + struct.pack(">HH", 21, 37) + b"\x01")
    wav = b"RIFF" + b"\x00" * 4 + b"WAVE" + b"\x00" * 8
    rows = [(1, bytearray(png)), (2, bytearray(gif)), (3, bytearray(bmp)),
            (4, bytearray(jpeg)), (5, bytearray(wav)),
            (6, bytearray(b"plain text")), (7, None)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: (r["mime_type"], r["width"], r["height"])
           for r in M.probe_media(media).collect()}
    assert got[1] == ("image/png", 3, 2)
    assert got[2] == ("image/gif", 12, 34)
    assert got[3] == ("image/bmp", 7, 9)
    assert got[4] == ("image/jpeg", 37, 21)
    assert got[5] == ("audio/wav", None, None)
    assert got[6] == (None, None, None)
    assert got[7] == (None, None, None)


def test_png_rgba_mean_excludes_alpha(spark):
    """A fully-opaque near-black RGBA image must read as dark, not
    mid-grey from the alpha plane."""
    import numpy as np

    rgba = np.zeros((3, 4 * 4), dtype=np.int32)
    rgba[:, 3::4] = 255                    # alpha bytes only
    media = spark.createDataFrame(
        [(1, bytearray(_png_bytes(rgba, 6, [0, 4, 2])))],
        "media_id long, payload binary")
    r = M.decode_png_features(media).collect()[0]
    assert r["color_type"] == 6 and r["mean_pixel"] == 0.0


def test_probe_media_truncated_and_fill_bytes(spark):
    import struct

    trunc_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 8      # cut-off download
    trunc_gif = b"GIF89a\x00"
    # JPEG with 0xFF fill bytes before SOF0 and a leading RST marker
    jpeg = (b"\xff\xd8\xff\xd0"            # SOI + length-less RST0
            + b"\xff\xff\xff\xc0"          # fill byte then SOF0
            + struct.pack(">H", 8) + b"\x08"
            + struct.pack(">HH", 11, 22) + b"\x01")
    rows = [(1, bytearray(trunc_png)), (2, bytearray(trunc_gif)),
            (3, bytearray(jpeg))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: (r["mime_type"], r["width"], r["height"])
           for r in M.probe_media(media).collect()}
    assert got[1] == ("image/png", None, None)
    assert got[2] == ("image/gif", None, None)
    assert got[3] == ("image/jpeg", 22, 11)


def test_repeated_spans_merges_maximal_runs(spark):
    """Two docs sharing a 12-token verbatim span -> ONE maximal span of
    12 tokens each (5 consecutive repeated 8-grams), not 5 fragments;
    unique text contributes nothing."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = spark.createDataFrame(
        [(1, f"one unique prefix here {shared} and unique tail one"),
         (2, f"{shared} totally different continuation text here two"),
         (3, "no overlap at all in this third document body text")],
        "doc_id long, text string")
    out = {(r["doc_id"]): (r["start_pos"], r["span_tokens"])
           for r in X.repeated_spans(docs, n=8).collect()}
    # doc1: shared starts at token 5 (1-based); doc2: at token 1
    assert out == {1: (5, 12), 2: (1, 12)}


def test_excise_repeated_spans_keeps_one_copy(spark):
    """Surgery semantics: the keeper (min doc id containing the gram)
    retains the shared span verbatim; every other doc loses exactly the
    covered positions; untouched docs round-trip byte-identical."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    d1 = f"one unique prefix here {shared} and unique tail one"
    d2 = f"{shared} totally different continuation text here two"
    d3 = "no overlap at all in this third document body text"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
           for r in X.excise_repeated_spans(docs, n=8).collect()}
    assert out[1] == (20, 0, d1)          # keeper: untouched
    assert out[2] == (18, 12,             # 12-token span excised
                      "totally different continuation text here two")
    assert out[3] == (10, 0, d3)          # disjoint doc: untouched


def test_excise_repeated_spans_total_collapse(spark):
    """A doc that is NOTHING but the shared span collapses to '' (and
    still appears in the output — downstream filters decide its fate)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, f"{shared} with a unique continuation"), (2, shared)],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_removed"], r["text_dedup"])
           for r in X.excise_repeated_spans(docs, n=8).collect()}
    assert out[1] == (0, f"{shared} with a unique continuation")
    assert out[2] == (8, "")


def test_containment_catches_subset_pairs_jaccard_misses(spark):
    """A short doc quoted verbatim inside a much longer one: containment
    ~= 1 (every shingle of the short doc appears in the long one) while
    Jaccard stays far below the 0.7 near-dup threshold — the exact case
    the symmetric family can't see."""
    from etl_tool_spark.catalog import SPARK
    import tempfile

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"unique{i}" for i in range(80))
    docs = spark.createDataFrame(
        [(0, f"{filler} {short}"), (1, short),
         (2, "completely different body of text with no shared content")],
        "doc_id long, text string")
    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/documents.parquet")
        out = {(r["a"], r["b"]): (r["containment"], r["jaccard"])
               for r in SPARK["llm_ngram_containment_pairs"](
                   spark, td).collect()}
    assert set(out) == {(0, 1)}
    cont, jac = out[(0, 1)]
    assert cont == 1.0
    assert jac < 0.7  # the symmetric threshold would have missed it


def test_bm25_scores_hand_computed(spark):
    """BM25 against a by-hand evaluation of the Robertson/Lucene formula
    on a 3-doc corpus; docs with zero query-term hits are absent."""
    import math

    docs = spark.createDataFrame(
        [(1, "spark spark table"), (2, "spark row"), (3, "table row row")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["bm25_raw"]
           for r in X.bm25_scores(docs, ["spark"]).collect()}
    n, avgdl, df = 3, 8 / 3, 2
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)

    def s(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert set(out) == {1, 2}
    assert out[1] == pytest.approx(s(2, 3))
    assert out[2] == pytest.approx(s(1, 2))
    assert out[1] > out[2]  # more hits, comparable length => higher


def test_ann_recall_floors_vs_exact(spark):
    """Approximation-quality floors at the catalog's default settings on
    the sf0.01 gate data: sign-LSH top-k must keep recall >= 0.8 and IVF
    >= 0.9 against the exact brute-force twin (tighter than the 0.70
    floor the catalog queries bind into their oracle-checked recall_ok
    column, which also needs headroom for sf0.1's IVF 0.84). bench.py
    reports the same ratio per run as recall_vs_exact."""
    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10) \
            .select(F.col("vec_id").alias("query_id"), "embedding")

    def pairs(df):
        return {(r["query_id"], r["vec_id"])
                for r in df.select("query_id", "vec_id").collect()}

    exact = pairs(S.brute_force_topk(emb, qs, k=5))
    lsh = pairs(S.lsh_topk(emb, qs, k=5, dim=64, bands=4, rows_per_band=2))
    ivf = pairs(S.ivf_topk(emb, qs, k=5, nlist=32, nprobe=16))
    assert len(lsh & exact) / len(exact) >= 0.8
    assert len(ivf & exact) / len(exact) >= 0.9

    # the catalog entries return the one-row thresholded contract the
    # driver hash-checks; both must assert recall_ok at the gate SF
    from etl_tool_spark.catalog import SPARK
    for name in ("llm_embedding_lsh_topk", "llm_embedding_ivf_topk"):
        row = SPARK[name](spark, sf).collect()[0]
        assert (row["n_queries"], row["n_pairs_exact"],
                row["recall_ok"]) == (10, 50, True), name


def test_incremental_embedding_equals_one_shot(spark, tmp_path):
    """Batch-by-batch incremental semantic dedup must reproduce exactly
    the one-shot embedding_dup_pairs set over the full corpus, with no
    pair reported twice; the store holds every vector once and its
    banded sign-LSH keys alongside."""
    from etl_tool_spark.llm import similarity as S

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
                .limit(200).cache())
    kw = dict(threshold=0.3, dim=64, bands=64, rows_per_band=6)
    full = {(r["a"], r["b"]): r["cosine_sim"]
            for r in S.embedding_dup_pairs(emb, **kw).collect()}
    store = str(tmp_path / "emb_store")
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    p1 = {(r["a"], r["b"]): r["cosine_sim"]
          for r in S.incremental_embedding_pairs(b1, store, **kw).collect()}
    p2 = {(r["a"], r["b"]): r["cosine_sim"]
          for r in S.incremental_embedding_pairs(b2, store, **kw).collect()}
    assert not set(p1) & set(p2), "no pair reported twice"
    assert {**p1, **p2} == full and full, "union == one-shot (non-empty)"
    assert spark.read.parquet(store + "/vec").count() == emb.count()
    assert spark.read.parquet(store + "/bands").count() == 64 * emb.count()
    emb.unpersist()


def test_ivf_append_without_retrain(spark, tmp_path):
    """ivf_append_index adds vectors under the frozen quantizer: search
    over build(half)+append(half) ≡ ivf_topk over the full corpus with
    the half-trained centroids; cell stats cover every vector."""
    import etl_tool_spark.llm.similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 5) \
                 .select(F.col("vec_id").alias("query_id"), "embedding")
    idx = str(tmp_path / "ivf")
    cents = S.ivf_build_index(half1, idx, nlist=8)
    S.ivf_append_index(half2, idx)
    got = sorted(tuple(r) for r in
                 S.ivf_search(spark, idx, queries, k=5, nprobe=4).collect())
    want = sorted(tuple(r) for r in
                  S.ivf_topk(emb, queries, k=5, nlist=8, nprobe=4,
                             centroids=cents).collect())
    assert got == want and len(got) == 25
    stats = S.ivf_cell_stats(spark, idx)
    assert stats.agg(F.sum("n_vectors")).collect()[0][0] == emb.count()


def test_embedding_pairs_hot_bucket_cap(spark):
    """max_bucket drops over-populated sign-LSH buckets whole: capped
    output is a subset of uncapped, and a degenerate all-identical
    cluster (every bucket hot) emits nothing under a tiny cap."""
    import etl_tool_spark.llm.similarity as S

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
                .limit(120))
    kw = dict(threshold=0.3, dim=64, bands=16, rows_per_band=4)
    full = {(r["a"], r["b"]) for r in
            S.embedding_dup_pairs(emb, **kw).collect()}
    capped = {(r["a"], r["b"]) for r in
              S.embedding_dup_pairs(emb, max_bucket=8, **kw).collect()}
    assert capped <= full
    same = spark.createDataFrame(
        [(i, [1.0, 0.5] * 32) for i in range(20)],
        "vec_id long, embedding array<float>")
    assert S.embedding_dup_pairs(same, max_bucket=5, **kw).count() == 0


def test_leakage_safe_split_keeps_groups_together(spark):
    """llm_leakage_safe_split's reason to exist, asserted directly: on
    sf0.001 the per-doc hash assignment (llm_split_shard's key) places
    members of 5 of the 21 multi-doc near-dup groups on opposite sides
    of the train/eval boundary — evaluation leakage — while the
    group-keyed assignment never splits a group (and not vacuously:
    the same 21 groups are present)."""
    from etl_tool_spark.catalog import SPARK
    from etl_tool_spark.llm import prep as P

    lab = (SPARK["llm_dedup_groups"](spark, "/root/testdata/sf0.001")
           .filter(F.col("group_size") > 1))
    a = lab.select("group_id",
                   P.split_assign(F.col("doc_id")).alias("doc_split"),
                   P.split_assign(F.col("group_id")).alias("grp_split"))
    per = (a.groupBy("group_id")
            .agg(F.countDistinct("doc_split").alias("nd"),
                 F.countDistinct("grp_split").alias("ng")))
    assert per.count() == 21
    assert per.filter(F.col("nd") > 1).count() == 5   # the hazard is real
    assert per.filter(F.col("ng") > 1).count() == 0   # and prevented


def test_pagerank_integer_exact_vs_reference_loop(spark):
    """llm/graph.py:pagerank must equal a sequential pure-Python replica
    of the same scaled-integer recurrence on a small fixed graph — the
    distributed shuffles/joins cannot change a single ulp because there
    are no floats anywhere."""
    from etl_tool_spark.llm.graph import pagerank

    raw = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 4)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in pagerank(edges, iters=4, scale=10**9).collect()}

    # sequential replica
    und = set()
    for u, v in raw:
        und.add((u, v)); und.add((v, u))
    from collections import defaultdict
    out = defaultdict(list)
    deg = defaultdict(int)
    for u, v in und:
        out[u].append(v); deg[u] += 1
    scale = 10**9
    rank = {u: scale for u in deg}
    for _ in range(4):
        m = defaultdict(int)
        for u in deg:
            c = rank[u] // deg[u]
            for v in out[u]:
                m[v] += c
        rank = {v: 15 * scale // 100 + (85 * mv) // 100
                for v, mv in m.items()}
    assert got == rank
    # teleport floor: every node retains at least the teleport mass
    assert min(got.values()) >= 15 * 10**9 // 100


def _gif_bytes(w, h, palette, indices, interlace=False):
    """Minimal valid GIF89a encoder for tests: global color table sized
    to the palette, one image, LZW at min_code_size=7 so the code width
    never grows for <126 distinct additions (keeps the encoder trivial
    while still exercising CLEAR/END handling and the KwKwK decode path
    for repeated runs)."""
    import struct

    assert len(palette) <= 128
    pal = list(palette) + [(0, 0, 0)] * (128 - len(palette))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x06, 0, 0)  # GCT, 128 entries
    for r, g, b in pal:
        out += bytes((r, g, b))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                 0x40 if interlace else 0)
    min_code = 7
    clear, end = 1 << min_code, (1 << min_code) + 1
    # LZW encode (no width growth below 126 additions at width 8)
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    codes = [clear]
    cur = b""
    for ch in indices:
        nxt = cur + bytes([ch])
        if nxt in table:
            cur = nxt
        else:
            codes.append(table[cur])
            table[nxt] = next_code
            next_code += 1
            assert next_code < 256, "test encoder: image too complex"
            cur = bytes([ch])
    if cur:
        codes.append(table[cur])
    codes.append(end)
    bits = bitpos = 0
    data = bytearray()
    for c in codes:
        bits |= c << bitpos
        bitpos += 8  # code width fixed at min_code+1
        while bitpos >= 8:
            data.append(bits & 0xFF)
            bits >>= 8
            bitpos -= 8
    if bitpos:
        data.append(bits & 0xFF)
    out += bytes([min_code])
    for i in range(0, len(data), 255):
        blk = data[i:i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_decode_real_pixels(spark):
    """The stdlib GIF LZW decoder reconstructs the exact index stream:
    mean palette-RGB intensity must equal the source exactly, repeated
    runs exercise the KwKwK special case, and interlace must not change
    the mean (row permutation). Non-GIF and truncated payloads yield
    null features."""
    import numpy as np

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    idx = [0, 1, 2, 3, 3, 3, 3, 0, 1, 1, 1, 2]   # runs → KwKwK path
    w, h = 4, 3
    want = round(float(np.array([pal[i] for i in idx],
                                dtype=np.float64).mean()), 6)
    payloads = [
        (1, bytearray(_gif_bytes(w, h, pal, idx))),
        (2, bytearray(_gif_bytes(w, h, pal, idx, interlace=True))),
        (3, bytearray(b"GIF89a truncated")),
        (4, bytearray(b"not a gif")),
        (5, None),
    ]
    media = spark.createDataFrame(payloads, "media_id long, payload binary")
    rows = {r["media_id"]: r for r in M.decode_gif_features(media).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (w, h)
    assert rows[1]["n_colors"] == 128
    assert rows[1]["mean_pixel"] == want
    assert rows[2]["mean_pixel"] == want        # interlace: same mean
    assert rows[3]["width"] is None or rows[3]["mean_pixel"] is None
    assert rows[4]["width"] is None
    assert rows[5]["width"] is None


def test_incremental_minhash_rejects_legacy_flat_store(spark, tmp_path):
    """A store written by the pre-two-table revision (signature parts
    directly under store_dir) must be refused with a rebuild hint, not
    silently read as empty — duplicates against the previously ingested
    corpus would otherwise go undetected with no error. Nothing is
    written on the refused paths."""
    import glob

    from etl_tool_spark.streaming.dedup import land_near_batch

    store = str(tmp_path / "legacy_store")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"
    b1 = spark.createDataFrame([(1, base + " omega")],
                               "doc_id long, text string")
    # batch-1 signatures in the LEGACY layout: flat parquet parts
    b1.select(F.col("doc_id"),
              D.shingle_hashes(F.col("text"), 3).alias("_hs")) \
      .write.parquet(store)
    before = sorted(glob.glob(store + "/**", recursive=True))

    b2 = spark.createDataFrame([(2, base + " sigma")],
                               "doc_id long, text string")
    with pytest.raises(ValueError, match="store layout.*rebuild"):
        D.incremental_minhash_pairs(b2, store)
    with pytest.raises(ValueError, match="store layout.*rebuild"):
        D.append_signatures(b2, store)
    with pytest.raises(ValueError, match="store layout.*rebuild"):
        land_near_batch(b2, 0, store, str(tmp_path / "landed"))
    assert sorted(glob.glob(store + "/**", recursive=True)) == before
    assert not glob.glob(str(tmp_path / "landed"))


def test_winnow_detection_guarantee(spark):
    """The SIGMOD'03 winnowing contract on this implementation: any
    verbatim shared substring of length >= w + k - 1 yields at least
    one shared fingerprint; strings sharing no k-gram share none; and
    the fingerprint set is a subset of the gram-hash set (each
    fingerprint IS some window's minimum gram hash)."""
    import random

    from etl_tool_spark.llm.dedup import (winnow_fingerprints,
                                          winnow_gram_hashes)

    k, w = 5, 4
    rng = random.Random(11)
    alpha = "abcdefghijklmnopqrstuvwxyz"

    def rand(n):
        return "".join(rng.choice(alpha) for _ in range(n))

    shared = rand(w + k - 1)            # exactly the guarantee floor
    rows = [
        (1, rand(30) + shared + rand(30)),
        (2, rand(25) + shared + rand(35)),
        (3, "0123456789" * 4),          # digits: no gram in common w/ 1,2
    ]
    df = spark.createDataFrame(rows, "i long, s string")
    out = {r["i"]: (set(r["fp"]), set(r["hs"])) for r in df.select(
        "i",
        winnow_fingerprints(F.col("s"), k, w).alias("fp"),
        winnow_gram_hashes(F.col("s"), k).alias("hs")).collect()}
    assert out[1][0] & out[2][0], "shared >= w+k-1 substring must collide"
    assert not (out[1][0] & out[3][0]) and not (out[2][0] & out[3][0])
    for fp, hs in out.values():
        assert fp <= hs and fp          # mins come from the gram hashes


def test_incremental_store_survives_compaction(spark, tmp_path):
    """The documented answer to append-only store file growth is
    periodic small-file compaction (SCALE.md): compacting sig/ and
    bands/ into fewer files between batches must leave the NEXT batch's
    pair output byte-identical to the uncompacted run — the store reads
    whole directories, never file identities, between appends."""
    import os
    import shutil

    from etl_tool_spark.llm import store as st
    from etl_tool_spark.operators.maintenance import compact_parquet

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i % 3}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batches = [df.filter(F.col("doc_id") % 3 == k) for k in range(3)]

    def run(store, compact_between):
        out = set()
        for k, b in enumerate(batches):
            if compact_between and k == 2:
                # the operational recipe: earlier batches' outputs are
                # MATERIALIZED (collected above) before compaction —
                # returned frames are lazily pinned to pre-compaction
                # part files and die with them (asserted below). A
                # rewrite of bands/ keeps its _shard layout and carries
                # the store's pinned shard count over.
                for tbl, parts in (("sig", None), ("bands", ["_shard"])):
                    srcd = os.path.join(store, tbl)
                    dstd = os.path.join(store, tbl + "_compact")
                    summary = compact_parquet(spark, srcd, dstd,
                                              partition_by=parts)
                    assert summary["files_after"] <= summary["files_before"]
                    if parts:
                        shutil.copy(os.path.join(srcd, st.SHARD_COUNT_FILE),
                                    dstd)
                    shutil.rmtree(srcd)
                    os.rename(dstd, srcd)
            pairs = D.incremental_minhash_pairs(b, store)
            out |= {(r["a"], r["b"], r["jaccard"]) for r in pairs.collect()}
        return out

    plain = run(str(tmp_path / "s1"), compact_between=False)
    compacted = run(str(tmp_path / "s2"), compact_between=True)
    assert compacted == plain and plain

    # the inverse contract: a pair frame NOT materialized before
    # compaction is pinned to deleted part files and must fail loudly,
    # never silently return stale/partial pairs
    import pytest as _pytest

    store3 = str(tmp_path / "s3")
    stale = D.incremental_minhash_pairs(batches[0], store3)
    for tbl in ("sig", "bands"):
        srcd = os.path.join(store3, tbl)
        dstd = os.path.join(store3, tbl + "_c")
        compact_parquet(spark, srcd, dstd)
        shutil.rmtree(srcd)
        os.rename(dstd, srcd)
    with _pytest.raises(Exception, match="FILE_NOT_EXIST|does not exist"):
        stale.collect()


def test_legacy_flat_store_with_foreign_schema_rejected(spark, tmp_path):
    """Flat part files that are NOT a legacy signature table must raise
    a clear layout error, never be silently folded into the store."""
    store = str(tmp_path / "foreign_store")
    spark.range(5).write.parquet(store)
    b = spark.createDataFrame([(1, "alpha beta gamma")],
                              "doc_id long, text string")
    with pytest.raises(ValueError, match="store layout"):
        D.incremental_minhash_pairs(b, store)


def test_embedding_incremental_hot_bucket_cap(spark, tmp_path):
    """incremental_embedding_pairs(max_bucket=...) parity with the
    minhash store: bucket population is counted over the COMBINED
    store+batch band rows, so a stored boilerplate-embedding cluster
    the batch pushes over the cap is dropped whole — without the cap
    every later batch's new×old fan-out against that cluster is
    quadratic."""
    boiler = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    other = [0.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    kw = dict(threshold=0.9, dim=8, bands=4, rows_per_band=2)
    store = str(tmp_path / "emb_store")
    b1 = spark.createDataFrame(
        [(i, boiler) for i in range(30)] + [(100, other)],
        "vec_id long, embedding array<float>")
    S.incremental_embedding_pairs(b1, store, max_bucket=40, **kw).count()
    b2 = spark.createDataFrame(
        [(i, boiler) for i in range(200, 220)] + [(101, other)],
        "vec_id long, embedding array<float>")
    got = S.incremental_embedding_pairs(b2, store, max_bucket=40,
                                        update_store=False, **kw).collect()
    ids = {i for r in got for i in (r["a"], r["b"])}
    # 30 stored + 20 new boilerplate = 50 > 40 ⇒ bucket dropped whole,
    # across the store boundary; the small-cluster pair survives
    assert (100, 101) in {(r["a"], r["b"]) for r in got}
    assert ids == {100, 101}
    uncapped = S.incremental_embedding_pairs(b2, store,
                                             update_store=False, **kw).count()
    assert uncapped == 30 * 20 + 20 * 19 // 2 + 1


def test_stores_reject_object_store_uris(spark):
    """glob/open-based stores silently see an empty store on object-store
    URIs (dedup misses the prior corpus; replay markers never engage) —
    they must fail loudly instead."""
    from etl_tool_spark.streaming.dedup import land_batch
    from etl_tool_spark.util import require_local_store

    df = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
    for uri in ("s3a://bucket/store", "hdfs://nn/store", "file:///tmp/x"):
        with pytest.raises(NotImplementedError):
            require_local_store(uri)
    with pytest.raises(NotImplementedError):
        D.incremental_exact_dedup(df, "s3a://bucket/store")
    with pytest.raises(NotImplementedError):
        D.incremental_minhash_pairs(df, "hdfs://nn/store")
    with pytest.raises(NotImplementedError):
        S.incremental_embedding_pairs(
            spark.createDataFrame([(1, [1.0, 0.0])],
                                  "vec_id long, embedding array<float>"),
            "s3a://bucket/emb")
    with pytest.raises(NotImplementedError):
        land_batch(df, 0, "s3a://bucket/gate", "/tmp/out_never_written")
    require_local_store("/tmp/plain/path")  # plain paths pass


# --- baseline JPEG decode (multimodal.py _jpeg_decode) -------------------

def _jpeg_fixture(w, h, comps, unit_quant=True, marker=0xC0,
                  restart_interval=0):
    """Minimal baseline-JPEG encoder for DC-only (solid per 8x8 block)
    images: quant tables of all ones, one 12-category DC Huffman table
    (all codes length 4) and an EOB-only AC table, 3-byte-spec SOS.
    ``comps`` = list of (component_id, h_samp, v_samp, block_values)
    where block_values lists each 8x8 block's solid pixel value in MCU
    scan order. A solid block's only nonzero coefficient is
    DC = 8*(value-128) under the orthonormal IDCT, so expected pixels
    are closed-form — the test never mirrors the decoder's math."""
    import struct

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
    nc = len(comps)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for cid, hs, vs, _ in comps:
        sof += struct.pack(">BBB", cid, (hs << 4) | vs, 0)
    out += bytes([0xFF, marker]) + struct.pack(">H", 2 + len(sof)) + sof
    dc_counts = [0, 0, 0, 12] + [0] * 12          # categories 0..11, len 4
    ac_counts = [0, 1] + [0] * 14                 # EOB only, code '00'
    out += b"\xff\xc4" + struct.pack(">H", 2 + 17 + 12) + b"\x00" \
        + bytes(dc_counts) + bytes(range(12))
    out += b"\xff\xc4" + struct.pack(">H", 2 + 17 + 1) + b"\x10" \
        + bytes(ac_counts) + b"\x00"
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([nc]) + b"".join(struct.pack(">BB", cid, 0)
                                 for cid, _, _, _ in comps) + b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    acc, nbits = 0, 0

    def put(val, k):
        nonlocal acc, nbits
        for i in range(k - 1, -1, -1):
            acc = (acc << 1) | ((val >> i) & 1)
            nbits += 1
            if nbits == 8:
                out.append(acc)
                if acc == 0xFF:
                    out.append(0x00)              # byte stuffing
                acc, nbits = 0, 0

    def flush():
        nonlocal acc, nbits
        if nbits:
            pad = 8 - nbits
            acc = (acc << pad) | ((1 << pad) - 1)
            out.append(acc)
            if acc == 0xFF:
                out.append(0x00)
            acc, nbits = 0, 0

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    n_mcu = (-(-w // (8 * hmax))) * (-(-h // (8 * vmax)))
    idx = {cid: 0 for cid, _, _, _ in comps}
    pred = {cid: 0 for cid, _, _, _ in comps}
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            flush()                               # RSTn: byte-aligned,
            out += bytes([0xFF,                   # DC predictors reset
                          0xD0 + (m // restart_interval - 1) % 8])
            pred = {cid: 0 for cid, _, _, _ in comps}
        for cid, hs, vs, vals in comps:
            for _ in range(hs * vs):
                dc = 8 * (vals[idx[cid]] - 128)
                idx[cid] += 1
                diff = dc - pred[cid]
                pred[cid] = dc
                s = abs(diff).bit_length()
                put(s, 4)                         # DC category code
                if s:
                    put(diff if diff >= 0 else diff + (1 << s) - 1, s)
                put(0b00, 2)                      # EOB
    flush()
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_decode_features(spark):
    """Real baseline-JPEG decode: grayscale exactness, 4:4:4 YCbCr→RGB,
    4:2:0 chroma upsampling with per-block DC-diff coding, progressive
    header-only degradation, and garbage → null features."""
    gray = _jpeg_fixture(8, 8, [(1, 1, 1, [200])])
    # 16x8 4:4:4: two MCUs, Y 100/150, Cb 120, Cr 140 (all in gamut)
    color = _jpeg_fixture(16, 8, [(1, 1, 1, [100, 150]),
                                  (2, 1, 1, [120, 120]),
                                  (3, 1, 1, [140, 140])])
    y_mean = (100 + 150) / 2
    want_color = round((3 * y_mean + 1.402 * (140 - 128)
                        - 0.344136 * (120 - 128) - 0.714136 * (140 - 128)
                        + 1.772 * (120 - 128)) / 3, 6)
    # 16x16 4:2:0: one MCU, four Y blocks + one Cb + one Cr block
    sub = _jpeg_fixture(16, 16, [(1, 2, 2, [96, 112, 144, 160]),
                                 (2, 1, 1, [128]), (3, 1, 1, [128])])
    progressive = _jpeg_fixture(8, 8, [(1, 1, 1, [200])], marker=0xC2)
    payloads = [(1, bytearray(gray)), (2, bytearray(color)),
                (3, bytearray(sub)), (4, bytearray(progressive)),
                (5, bytearray(b"\xff\xd8 truncated")),
                (6, bytearray(b"not a jpeg")), (7, None)]
    media = spark.createDataFrame(payloads, "media_id long, payload binary")
    rows = {r["media_id"]: r for r in M.decode_jpeg_features(media).collect()}

    assert (rows[1]["width"], rows[1]["height"],
            rows[1]["n_components"]) == (8, 8, 1)
    assert rows[1]["mean_pixel"] == 200.0
    assert (rows[2]["width"], rows[2]["height"],
            rows[2]["n_components"]) == (16, 8, 3)
    assert abs(rows[2]["mean_pixel"] - want_color) < 1e-4
    assert (rows[3]["width"], rows[3]["height"]) == (16, 16)
    # Cb=Cr=128 → RGB == Y plane; mean = avg of the four Y blocks
    assert abs(rows[3]["mean_pixel"] - 128.0) < 1e-6
    # progressive: dims parse, pixels don't (honest header-only)
    assert (rows[4]["width"], rows[4]["height"]) == (8, 8)
    assert rows[4]["mean_pixel"] is None
    assert rows[5]["mean_pixel"] is None
    assert rows[6]["width"] is None
    assert rows[7]["width"] is None


def test_jpeg_decode_restart_markers(spark):
    """DRI/RSTn: the decoder must realign to byte boundaries at each
    restart marker and reset DC predictors (block values after a
    restart are encoded as absolute, not diff vs the previous MCU)."""
    vals = [40, 90, 140, 190, 215, 65]            # 48x8: six MCUs
    jpg = _jpeg_fixture(48, 8, [(1, 1, 1, vals)], restart_interval=2)
    media = spark.createDataFrame([(1, bytearray(jpg))],
                                  "media_id long, payload binary")
    row = M.decode_jpeg_features(media).collect()[0]
    assert (row["width"], row["height"]) == (48, 8)
    assert abs(row["mean_pixel"] - sum(vals) / len(vals)) < 1e-6


def test_jpeg_decode_random_roundtrip(spark):
    """Seeded randomized round-trip: random grayscale and 4:4:4 block
    grids (values spanning the full 0..255 DC category range, including
    the byte-stuffing-prone extremes) must decode to exactly the mean
    of their block values — DC-only blocks are closed-form."""
    import random

    rng = random.Random(7)
    cases = []
    for i in range(8):
        bw, bh = rng.choice([1, 2, 3]), rng.choice([1, 2])
        vals = [rng.randint(0, 255) for _ in range(bw * bh)]
        cases.append((i, bw * 8, bh * 8, vals))
    payloads = [(i, bytearray(_jpeg_fixture(w, h, [(1, 1, 1, vals)])))
                for i, w, h, vals in cases]
    media = spark.createDataFrame(payloads, "media_id long, payload binary")
    rows = {r["media_id"]: r for r in M.decode_jpeg_features(media).collect()}
    for i, w, h, vals in cases:
        assert (rows[i]["width"], rows[i]["height"]) == (w, h), i
        assert abs(rows[i]["mean_pixel"] - sum(vals) / len(vals)) < 1e-6, \
            (i, vals, rows[i]["mean_pixel"])


def test_paragraph_dedup_semantics(spark):
    """Global first occurrence (by id, then position) of each exact
    paragraph survives; every other copy drops; docs re-stitch in
    original order; fully-deduped docs stay present with empty text."""
    rows = [(1, "alpha\nFOOTER\nbeta"),
            (2, "gamma\nFOOTER\nalpha"),
            (3, "FOOTER\ndelta"),
            (4, "FOOTER")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.paragraph_dedup(df).collect()}
    assert out[1]["text"] == "alpha\nFOOTER\nbeta"
    assert out[1]["n_kept"] == 3 and out[1]["n_dropped"] == 0
    assert out[2]["text"] == "gamma"
    assert out[2]["n_dropped"] == 2
    assert out[3]["text"] == "delta"
    assert out[4]["text"] == "" and out[4]["n_kept"] == 0
    # repeated paragraph INSIDE one doc: first position wins
    df2 = spark.createDataFrame([(7, "x\nx\ny")], ["doc_id", "text"])
    r2 = D.paragraph_dedup(df2).collect()[0]
    assert r2["text"] == "x\ny" and r2["n_dropped"] == 1


def test_paragraph_dedup_no_window_sort_on_paragraph(spark):
    """The keeper reduction must be a partial-agg'd groupBy (map-side
    combine collapses hot boilerplate paragraphs), never a row_number
    window that sorts a hot paragraph's full occurrence list in one
    task: the plan contains no Window node."""
    df = spark.createDataFrame([(1, "a\nb"), (2, "b\nc")],
                               ["doc_id", "text"])
    plan = D.paragraph_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_hard_negatives_excludes_same_label(spark):
    """Every mined negative has a different label than its query, the
    top-k are the highest-cosine cross-label items, and same-class
    near-duplicates never crowd the k slots."""
    rows = [
        # label 0 cluster around (1, 0); label 1 cluster around (0.9, 0.1)
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.01], 0),   # same-label near-dup of vec 0
        (2, [0.9, 0.1], 1),
        (3, [0.5, 0.5], 1),
        (4, [-1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = (df.filter(F.col("vec_id") == 0)
           .select(F.col("vec_id").alias("query_id"), "label", "embedding"))
    out = S.hard_negatives(df, q, k=2).collect()
    got = [(r["vec_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    # vec 1 (same label, cosine ~1) must be absent; 2 then 3 by cosine
    assert got == [(2, 1), (3, 2)]
    assert all(r["cosine_sim"] <= 1.0 for r in out)


def test_ivf_hard_negatives_degenerates_to_exact(spark):
    """nprobe == nlist scans every cell, so the IVF-composed miner must
    return EXACTLY the exact hard_negatives pairs; with nprobe < nlist
    it returns a subset (candidates only from probed cells), never a
    same-label row."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = (df.filter(F.col("vec_id") < 4)
           .select(F.col("vec_id").alias("query_id"), "label", "embedding"))

    def pairs(frame):
        return {(r["query_id"], r["vec_id"], r["rank"])
                for r in frame.collect()}

    exact = pairs(S.hard_negatives(df, q, k=3))
    full = pairs(S.ivf_hard_negatives(df, q, k=3, nlist=4, nprobe=4))
    assert full == exact
    probed = S.ivf_hard_negatives(df, q, k=3, nlist=4, nprobe=2)
    lab = {r["vec_id"]: r["label"] for r in df.collect()}
    qlab = {r["query_id"]: r["label"] for r in q.collect()}
    for r in probed.collect():
        assert lab[r["vec_id"]] != qlab[r["query_id"]]
    assert {(p[0], p[1]) for p in pairs(probed)} <= {
        (qq, v) for qq in qlab
        for v in lab if lab[v] != qlab[qq]}


def test_hard_negatives_broadcast_is_gated(spark, monkeypatch):
    """Small query frames broadcast (BroadcastNestedLoopJoin); past the
    row gate the hint must NOT be emitted — the planner degrades to a
    partitioned cartesian instead of OOMing executors on an unbounded
    broadcast (round-4 verdict item 5). Exercised both ways by moving
    the gate, not the data."""
    from etl_tool_spark.operators import skew

    rows = [(i, [float(i % 7), 1.0], i % 2) for i in range(20)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = (df.filter(F.col("vec_id") < 3)
           .select(F.col("vec_id").alias("query_id"), "label", "embedding"))

    def plan_of(frame):
        return frame._jdf.queryExecution().executedPlan().toString()

    small = S.hard_negatives(df, q, k=2)
    assert "BroadcastNestedLoopJoin" in plan_of(small)

    monkeypatch.setattr(skew, "BROADCAST_ROW_GATE", 0)
    large = S.hard_negatives(df, q, k=2)
    p = plan_of(large)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" in p


def test_incremental_paragraph_dedup_fold_equals_oneshot(spark, tmp_path):
    """Two id-ordered batches through the paragraph fingerprint store
    fold to exactly the one-shot paragraph_dedup result; the store
    grows survivor-only, so a cross-batch repeat drops in batch 2."""
    rows = [(1, "alpha\nFOOTER"), (2, "beta\nFOOTER"),
            (3, "FOOTER\nalpha\ngamma"), (4, "beta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "pstore")
    b1 = D.incremental_paragraph_dedup(df.filter("doc_id <= 2"), store)
    b2 = D.incremental_paragraph_dedup(df.filter("doc_id > 2"), store)
    folded = {r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
              for r in b1.unionByName(b2).collect()}
    oneshot = {r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
               for r in D.paragraph_dedup(df).collect()}
    assert folded == oneshot
    assert folded[3] == ("gamma", 1, 2)
    assert folded[4] == ("", 0, 1)


def test_dsir_weights_match_python_reference(spark, tmp_path):
    """Seeded randomized corpus: the DSIR log importance weight per doc
    must equal the pure-Python add-1 smoothed unigram log-ratio."""
    import math
    import random

    rng = random.Random(11)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = []
    for i in range(40):
        lang = rng.choice(["en", "de", "fr"])
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 12))]
        rows.append((i, " ".join(toks), lang, "src0", len(" ".join(toks))))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from etl_tool_spark.catalog import SPARK as CAT
    got = {r["doc_id"]: (r["n_tokens"], r["log_weight"])
           for r in CAT["llm_dsir_weights"](spark, str(tmp_path)).collect()}

    cr: dict = {}
    ct: dict = {}
    for i, text, lang, *_ in rows:
        for t in text.split():
            cr[t] = cr.get(t, 0) + 1
            if lang == "en":
                ct[t] = ct.get(t, 0) + 1
    v, tr, tt = len(cr), sum(cr.values()), sum(ct.values())
    for i, text, lang, *_ in rows:
        toks = text.split()
        w = sum(math.log10((ct.get(t, 0) + 1.0) / (tt + v))
                - math.log10((cr[t] + 1.0) / (tr + v)) for t in toks)
        assert got[i][0] == len(toks), i
        assert abs(got[i][1] - round(w, 6)) < 1e-5, (i, got[i][1], w)


def test_curriculum_phase_arithmetic(spark):
    """Phase cut points from the banded prefix sum match the sequential
    walk: sort by (quality DESC, id), phase = exclusive-prefix tokens
    × 4 ÷ total in integer arithmetic, capped at 3."""
    import random

    from etl_tool_spark.operators.globalorder import banded_cumsum

    rng = random.Random(5)
    rows = [(i, round(rng.random(), 2), rng.randint(0, 40))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, q double, nt long")
    cum = banded_cumsum(df, band="q", intra_order=[F.col("doc_id").asc()],
                        value="nt", out="cum", band_desc=True)
    total = sum(nt for _, _, nt in rows)
    got = {r["doc_id"]: min(3, (r["cum"] - r["nt"]) * 4 // total)
           for r in cum.collect()}
    prev = 0
    for i, q, nt in sorted(rows, key=lambda r: (-r[1], r[0])):
        assert got[i] == min(3, prev * 4 // total), i
        prev += nt


def test_pq_codebooks_deterministic_shape_and_guards(spark):
    corpus = spark.createDataFrame(
        [(i, [float((i * 13) % 11), float(i % 5), float(i % 3), 1.0])
         for i in range(1, 40)],
        "vec_id long, embedding array<float>")
    b1 = S.pq_train_codebooks(corpus, m=2, ksub=4)
    b2 = S.pq_train_codebooks(corpus, m=2, ksub=4)
    assert b1 == b2                       # byte-identical retrain
    assert len(b1) == 2 and all(len(cb) == 4 for cb in b1)
    assert all(len(c) == 2 for cb in b1 for c in cb)   # dsub = 4/2
    import pytest as _pytest
    with _pytest.raises(ValueError):
        S.pq_train_codebooks(corpus, m=3, ksub=4)      # 4 % 3 != 0


def test_pq_topk_subset_of_exact_and_deterministic(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), float((i * 3) % 4), 1.0])
         for i in range(1, 40)],
        "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") <= 2) \
                    .select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.pq_topk(corpus, queries, k=3, m=2, ksub=4, shortlist=8).collect()
    assert len(out) > 0
    exact = {(r["query_id"], r["vec_id"])
             for r in S.brute_force_topk(corpus, queries, k=39).collect()}
    assert {(r["query_id"], r["vec_id"]) for r in out} <= exact
    again = S.pq_topk(corpus, queries, k=3, m=2, ksub=4,
                      shortlist=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pq_full_shortlist_equals_brute_force(spark):
    """shortlist >= corpus degenerates to exact: every vector reaches
    the exact re-rank stage regardless of quantization quality, so the
    result must equal brute force rank-for-rank."""
    corpus = spark.createDataFrame(
        [(i, [float((i * 13) % 11), float(i % 5), float((i * 7) % 9), 1.0])
         for i in range(1, 40)],
        "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") <= 3) \
                    .select(F.col("vec_id").alias("query_id"), "embedding")
    pq = {(r["query_id"], r["vec_id"], r["rank"])
          for r in S.pq_topk(corpus, queries, k=5, m=2, ksub=4,
                             shortlist=100).collect()}
    bf = {(r["query_id"], r["vec_id"], r["rank"])
          for r in S.brute_force_topk(corpus, queries, k=5).collect()}
    assert pq == bf


def test_ivfpq_full_probe_full_shortlist_equals_brute_force(spark):
    """nprobe == nlist and shortlist >= corpus degenerates IVF-PQ to
    exact search: every vector reaches the exact re-rank regardless of
    coarse assignment or residual quantization error."""
    corpus = spark.createDataFrame(
        [(i, [float((i * 13) % 11), float(i % 5), float((i * 7) % 9), 1.0])
         for i in range(1, 40)],
        "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") <= 3) \
                    .select(F.col("vec_id").alias("query_id"), "embedding")
    got = {(r["query_id"], r["vec_id"], r["rank"])
           for r in S.ivfpq_topk(corpus, queries, k=5, nlist=4, nprobe=4,
                                 m=2, ksub=4, shortlist=100).collect()}
    bf = {(r["query_id"], r["vec_id"], r["rank"])
          for r in S.brute_force_topk(corpus, queries, k=5).collect()}
    assert got == bf


def test_ivfpq_subset_of_exact_and_deterministic(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), float((i * 3) % 4), 1.0])
         for i in range(1, 40)],
        "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") <= 2) \
                    .select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.ivfpq_topk(corpus, queries, k=3, nlist=4, nprobe=2,
                       m=2, ksub=4, shortlist=8).collect()
    assert len(out) > 0
    exact = {(r["query_id"], r["vec_id"])
             for r in S.brute_force_topk(corpus, queries, k=39).collect()}
    assert {(r["query_id"], r["vec_id"]) for r in out} <= exact
    again = S.ivfpq_topk(corpus, queries, k=3, nlist=4, nprobe=2,
                         m=2, ksub=4, shortlist=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_bm25_batch_matches_fixed_bag_single_query(spark):
    """For one query the batch inverted-postings path must rank exactly
    like the fixed-bag map-side path (same stats semantics, same
    rounding, same tiebreak) — the two implementations are independent
    plans over the same formula."""
    docs = spark.createDataFrame(
        [(1, "spark merges window data"), (2, "spark spark spark"),
         (3, "window of the world"), (4, "nothing relevant here"),
         (5, "data data window spark")],
        "doc_id long, text string")
    qdf = spark.createDataFrame([("q", "spark window")],
                                "query_id string, query_text string")
    batch = [(r["doc_id"], r["bm25"]) for r in
             X.bm25_batch_topk(docs, qdf, k=10)
              .orderBy("rank").collect()]
    fixed = [(r["doc_id"], round(r["bm25_raw"], 6)) for r in
             X.bm25_scores(docs, ["spark", "window"])
              .orderBy(F.round("bm25_raw", 6).desc(), "doc_id").collect()]
    assert batch == fixed


def test_bm25_batch_empty_and_stopword_queries(spark):
    """A query with no corpus hits returns no rows (never a null-score
    row); duplicate terms in the query string count once."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string")
    qdf = spark.createDataFrame(
        [("hit", "beta beta"), ("miss", "zzz qqq")],
        "query_id string, query_text string")
    out = X.bm25_batch_topk(docs, qdf, k=10).collect()
    assert {r["query_id"] for r in out} == {"hit"}
    assert len(out) == 2  # both docs contain beta, counted once


def test_pq_persisted_index_matches_inmemory(spark, tmp_path):
    """pq_search over a persisted index returns exactly pq_topk's
    result (same deterministic codebooks), and append-without-retrain
    makes new vectors immediately searchable."""
    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), float((i * 3) % 4), 1.0])
         for i in range(1, 30)],
        "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") <= 2) \
                    .select(F.col("vec_id").alias("query_id"), "embedding")
    idx = str(tmp_path / "pq_idx")
    books = S.pq_build_index(corpus, idx, m=2, ksub=4)
    served = {(r["query_id"], r["vec_id"], r["rank"], r["cosine_sim"])
              for r in S.pq_search(spark, idx, corpus, queries,
                                   k=3, shortlist=8).collect()}
    inmem = {(r["query_id"], r["vec_id"], r["rank"], r["cosine_sim"])
             for r in S.pq_topk(corpus, queries, k=3, m=2, ksub=4,
                                shortlist=8, codebooks=books).collect()}
    assert served == inmem

    extra = spark.createDataFrame(
        [(100, [9.0, 9.0, 9.0, 9.0])], "vec_id long, embedding array<float>")
    S.pq_append_index(extra, idx)
    grown = corpus.unionByName(extra)
    # a query identical in direction to the appended vector must now
    # retrieve it first: it reaches the shortlist via its code and wins
    # the exact re-rank with cosine 1.0
    probe = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0, 1.0])], "query_id long, embedding array<float>")
    top = (S.pq_search(spark, idx, grown, probe, k=1, shortlist=8)
            .collect())
    assert [(r["vec_id"], r["cosine_sim"]) for r in top] == [(100, 1.0)]


def test_unicode_normalize_forms_and_nulls(spark):
    from etl_tool_spark.llm import prep as P
    import pytest as _pytest

    # explicit escapes: e+COMBINING ACUTE, A+COMBINING RING, fi ligature
    decomposed = "cafe\u0301 A\u030a \ufb01ne"
    df = spark.createDataFrame([(1, decomposed), (2, "plain"), (3, None)],
                               "id long, t string")
    out = {r["id"]: r["n"] for r in
           df.select("id", P.unicode_normalize(F.col("t")).alias("n"))
             .collect()}
    assert out[1] == "caf\u00e9 \u00c5 \ufb01ne"  # composed; fi kept
    assert out[2] == "plain"                       # passthrough
    assert out[3] is None                          # null-safe
    nfkc = {r["id"]: r["n"] for r in
            df.select("id", P.unicode_normalize(F.col("t"), "NFKC")
                      .alias("n")).collect()}
    assert nfkc[1] == "caf\u00e9 \u00c5 fine"   # ligature expands
    # idempotence: NFC(NFC(x)) == NFC(x)
    twice = {r["id"]: r["n"] for r in
             df.select("id", P.unicode_normalize(
                 P.unicode_normalize(F.col("t"))).alias("n")).collect()}
    assert twice == out
    with _pytest.raises(ValueError):
        P.unicode_normalize(F.col("t"), "NFX")


def test_script_counts_and_dominant(spark):
    cases = [
        # (text, expected dominant, spot counts)
        ("hello world", "latin", {"latin": 10, "cyrillic": 0}),
        ("привет", "cyrillic",
         {"cyrillic": 6, "latin": 0}),
        ("中文处理", "han", {"han": 4}),
        ("αβγ abc", "latin",      # tie 3-3 → priority order
         {"greek": 3, "latin": 3}),
        ("ابتث", "arabic", {"arabic": 4}),
        ("カタカナ ひら", "katakana",
         {"katakana": 4, "hiragana": 2}),
        ("123 .,;!?", "unknown", {"latin": 0}),
        ("", "unknown", {}),
        # mixed: majority wins
        ("ab миру", "cyrillic",
         {"latin": 2, "cyrillic": 4}),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _, _) in enumerate(cases)],
                               "id long, t string")
    c = X.script_counts(F.col("t"))
    rows = {r["id"]: r for r in df.select(
        "id", X.dominant_script(F.col("t"), counts=c).alias("dom"),
        *[c[k].alias(k) for k in ("latin", "cyrillic", "greek", "arabic",
                                  "han", "hiragana", "katakana")]).collect()}
    for i, (t, dom, counts) in enumerate(cases):
        assert rows[i]["dom"] == dom, (t, rows[i]["dom"])
        for k, v in counts.items():
            assert rows[i][k] == v, (t, k, rows[i][k])


def test_stupid_backoff_arms_hand_computed(spark):
    # train corpus "a b c a b d": trigram counts {a b c, b c a, c a b,
    # a b d}=1; bigrams {a b:2, b c:1, c a:1, b d:1}; unigrams
    # {a:2, b:2, c:1, d:1}, N=6
    import math
    train = spark.createDataFrame([(0, "a b c a b d")], "doc_id long, text string")
    cases = {
        1: ("a b c", 1 / 2),                 # trigram MLE: c3/c2(a b)
        2: ("c b d", 0.4 * 1 / 2),           # backoff: α·c2(b d)/c1(b)
        3: ("x y d", 0.4 * 0.4 * 1 / 6),     # unigram arm: α²·c1(d)/N
        4: ("x y z", 0.4 * 0.4 * 0.5 / 6),   # OOV floor: α²·0.5/N
        5: ("a b", None),                    # <3 tokens: absent
    }
    score = spark.createDataFrame([(i, t) for i, (t, _) in cases.items()],
                                  "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           X.stupid_backoff_logprob(train, score).collect()}
    assert 5 not in got
    for i, (_, p) in cases.items():
        if p is None:
            continue
        assert got[i]["n_trigrams"] == 1
        assert got[i]["avg_logprob"] == round(math.log10(p), 6), (i, got[i])


def test_stupid_backoff_multi_position_average(spark):
    import math
    train = spark.createDataFrame([(0, "a b c a b d")], "doc_id long, text string")
    # "a b c a": positions (a b c) -> 1/2 and (b c a) -> c3(b c a)/c2(b c)=1/1
    score = spark.createDataFrame([(1, "a b c a")], "doc_id long, text string")
    r = X.stupid_backoff_logprob(train, score).head()
    assert r["n_trigrams"] == 2
    expect = round((math.log10(0.5) + math.log10(1.0)) / 2, 6)
    assert r["avg_logprob"] == expect


def test_mmr_diversifies_against_near_duplicates(spark):
    import math
    from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                   StructField, StructType)

    def rot(angle, axis=1, dim=4):
        v = [0.0] * dim
        v[0] = math.cos(angle)
        v[axis] = math.sin(angle)
        return v

    # corpus: query q=e0 (id 0); A (id 1) and A' (id 2) nearly identical
    # and most relevant; B (id 3) less relevant but diverse.
    vecs = [rot(0.0), rot(0.10), rot(0.12), rot(0.5, axis=2)]
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", ArrayType(FloatType()))])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], schema)
    q = emb.filter(F.col("vec_id") == 0) \
           .select(F.col("vec_id").alias("query_id"), "embedding")
    got = {r["rank"]: r["vec_id"]
           for r in S.mmr_topk(emb, q, k=3, shortlist=3, lam=0.5).collect()}
    # pure relevance would pick (1, 2, 3); MMR demotes the near-copy
    assert got == {1: 1, 2: 3, 3: 2}
    # lam=1.0 degenerates to pure relevance order
    got_rel = {r["rank"]: r["vec_id"]
               for r in S.mmr_topk(emb, q, k=3, shortlist=3, lam=1.0)
                          .collect()}
    assert got_rel == {1: 1, 2: 2, 3: 3}


def test_mmr_k_exceeding_shortlist_returns_what_exists(spark):
    from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                   StructField, StructType)
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", ArrayType(FloatType()))])
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.8, 0.2])], schema)
    q = emb.filter(F.col("vec_id") == 0) \
           .select(F.col("vec_id").alias("query_id"), "embedding")
    rows = S.mmr_topk(emb, q, k=5, shortlist=2, lam=0.5).collect()
    assert sorted(r["rank"] for r in rows) == [1, 2]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        S.mmr_topk(emb, q, k=0)


def test_log_odds_classifier_hand_computed(spark):
    """Two one-token docs per class; every weight and the final score
    are verified against the closed-form add-1 log-count ratios."""
    import math

    train = spark.createDataFrame(
        [(1, "good", True), (2, "good", True), (3, "bad", False)],
        "doc_id long, text string, y boolean")
    score = spark.createDataFrame(
        [(10, "good"), (11, "bad"), (12, "oov")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           X.log_odds_classifier(train, score, label_col="y").collect()}
    # counts: good cp=2 cn=0, bad cp=0 cn=1; np=2 nn=1 v=2; bias=log10(2/1)
    bias = math.log10(2.0)
    w_good = math.log10(((2 + 1.0) / (2 + 2)) / ((0 + 1.0) / (1 + 2)))
    w_bad = math.log10(((0 + 1.0) / (2 + 2)) / ((1 + 1.0) / (1 + 2)))
    assert out[10]["score"] == round(w_good + bias, 6)
    assert out[10]["pred"] == "pos"
    assert out[11]["score"] == round(w_bad + bias, 6)
    assert out[11]["n_feats"] == 1
    assert 12 not in out  # all-OOV doc carries no evidence -> absent


def test_log_odds_classifier_bigrams_separate_word_order(spark):
    """Unigram bags identical across classes — only the bigram features
    carry signal, so a correct pred proves bigrams participate."""
    train = spark.createDataFrame(
        [(i, "alpha beta", True) for i in range(1, 6)]
        + [(i, "beta alpha", False) for i in range(6, 11)],
        "doc_id long, text string, y boolean")
    score = spark.createDataFrame(
        [(20, "alpha beta"), (21, "beta alpha")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           X.log_odds_classifier(train, score, label_col="y").collect()}
    assert out[20]["pred"] == "pos" and out[21]["pred"] == "neg"
    assert out[20]["n_feats"] == 3  # 2 unigrams + 1 bigram


def test_log_odds_classifier_prior_bias(spark):
    """A neutral-vocabulary doc falls to the class prior: with a 4:1
    positive train split the bias is log10(4) > 0 -> pred pos."""
    train = spark.createDataFrame(
        [(i, "same text here", True) for i in range(1, 5)]
        + [(5, "same text here", False)],
        "doc_id long, text string, y boolean")
    score = spark.createDataFrame([(9, "same text here")],
                                  "doc_id long, text string")
    row = X.log_odds_classifier(train, score, label_col="y").collect()[0]
    # every feature weight is log10((c+1)/(np+v) / ((c'+1)/(nn+v))) with
    # the SAME counts ratio across features; score = mean + log10(4)
    assert row["pred"] == "pos" and row["score"] > 0


def test_compression_ratio_orders_repetitive_below_natural(spark):
    """The Gopher/Dolma repetitiveness signal: template spam compresses
    far below varied prose; ratio is exactly len(zlib(raw))/len(raw);
    null passes through and empty text reports the neutral 1.0."""
    import zlib

    natural = ("the quick brown fox jumps over a lazy dog while seventeen "
               "violinists argue about breakfast pastries near the harbor")
    spam = "buy now " * 40
    df = spark.createDataFrame(
        [(1, natural), (2, spam), (3, ""), (4, None)],
        "doc_id int, text string")
    out = {r["doc_id"]: r["ratio"] for r in
           df.select("doc_id",
                     X.compression_ratio(F.col("text")).alias("ratio"))
             .collect()}
    exact = len(zlib.compress(natural.encode(), 6)) / len(natural.encode())
    assert abs(out[1] - exact) < 1e-12
    assert out[2] < 0.2 < out[1]          # spam compresses way below prose
    assert out[3] == 1.0 and out[4] is None
