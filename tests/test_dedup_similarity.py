"""Semantics tests for dedup + similarity operators (beyond oracle
parity: these check the *meaning* — duplicates found, neighbors
correct)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base),  # exact duplicate of 0
        (2, base + " with a tiny suffix change"),  # near-dup of 0
        (3, "completely different content about spark shuffles and arrow"),
        (4, "Completely DIFFERENT content about spark shuffles and arrow"),
        # ^ exact dup of 3 after normalization (case)
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark, docs):
    from westa_ocr_spark.operators.dedup import exact_duplicates

    groups = {r["canonical_id"]: r["group_size"]
              for r in exact_duplicates(docs).collect()}
    assert groups == {0: 2, 3: 2}


def test_minhash_identical_docs_share_signature(spark, docs):
    from westa_ocr_spark.operators.dedup import minhash_signatures

    sigs = {r["doc_id"]: (r["mh_0"], r["mh_1"], r["mh_2"], r["mh_3"])
            for r in minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[3] == sigs[4]
    assert sigs[0] != sigs[3]
    assert 5 not in sigs  # empty doc has no shingles


def test_ngram_jaccard_ranks_near_dup_first(spark, docs):
    from westa_ocr_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, top_n=5).collect()
    assert pairs, "no candidate pairs found"
    top = pairs[0]
    assert (top["doc_a"], top["doc_b"]) == (0, 1)
    assert top["jaccard"] == 1.0
    near = [p for p in pairs if (p["doc_a"], p["doc_b"]) == (0, 2)]
    assert near and 0 < near[0]["jaccard"] < 1.0


def test_simhash_hamming_property(spark, docs):
    from westa_ocr_spark.operators.dedup import simhash16_df, simhash64

    s16 = {r["doc_id"]: r["simhash"] for r in simhash16_df(docs).collect()}
    assert s16[0] == s16[1]
    s64 = {r["doc_id"]: r["simhash64"] for r in simhash64(docs).collect()}
    assert s64[0] == s64[1]

    def ham(a, b, bits):
        return bin(((a ^ b) + (1 << bits)) % (1 << bits)).count("1")

    # near-dup much closer than unrelated
    assert ham(s64[0], s64[2], 64) < ham(s64[0], s64[3], 64)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
        (4, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def test_cosine_topk_ordering(spark, vectors):
    from westa_ocr_spark.operators.similarity import cosine_topk

    top = cosine_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=5).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] == 0 and ids[1] == 1  # self, then nearest
    assert ids[-1] == 3  # opposite vector last
    assert top[0]["cosine"] == 1.0
    assert top[-1]["cosine"] == -1.0


def test_lsh_topk_finds_exact_neighbors(spark, vectors):
    from westa_ocr_spark.operators.similarity import cosine_topk, lsh_topk

    q = [1.0, 0.0, 0.0, 0.0]
    exact = [r["vec_id"] for r in cosine_topk(vectors, q, k=2).collect()]
    approx = [r["vec_id"] for r in
              lsh_topk(vectors, q, k=2, n_planes=8).collect()]
    # with hamming-1 probing on this tiny set, ANN must contain the
    # true top-1
    assert exact[0] in approx


def test_lsh_signatures_deterministic(spark, vectors):
    from westa_ocr_spark.operators.similarity import lsh_signatures

    a = {r["vec_id"]: r["bucket"]
         for r in lsh_signatures(vectors, dim=4, n_planes=8).collect()}
    b = {r["vec_id"]: r["bucket"]
         for r in lsh_signatures(vectors, dim=4, n_planes=8).collect()}
    assert a == b
    # opposite vectors land in complementary buckets (all planes flip)
    assert a[0] ^ a[3] == (1 << 8) - 1


def test_ivf_topk_finds_true_neighbors(spark):
    """IVF ANN over the driver-provided embeddings: recall@10 vs the
    exact scan with 4/16 clusters probed."""
    from westa_ocr_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qrow = emb.filter("vec_id = 0").collect()[0]
    q = [float(x) for x in qrow["embedding"]]
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in
              ivf_topk(emb, q, k=10, n_centroids=16, n_probe=4).collect()]
    assert exact[0] in approx              # true top-1 found
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"recall@10 too low: {recall}"


def test_ivf_assignment_deterministic(spark):
    from westa_ocr_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, n_centroids=8)
    a = {r["vec_id"]: r["cluster"]
         for r in ivf_assign(emb, cents).collect()}
    b = {r["vec_id"]: r["cluster"]
         for r in ivf_assign(emb, cents).collect()}
    assert a == b
    assert len(set(a.values())) > 1  # clusters actually split the data


# ---- round 2: group resolution, hot-shingle cap, vectorized simhash ----


def test_connected_components_chain_and_islands(spark):
    from westa_ocr_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        ["doc_a", "doc_b"],
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_near_dup_chain_collapses_to_one_group(spark):
    """A~B and B~C collide in (possibly different) LSH bands; A and C
    share no band — connected components must still put all three in
    ONE group (the cross-band resolution plain LSH lacks)."""
    from westa_ocr_spark.operators.dedup import (
        duplicate_groups,
        lsh_candidate_pairs,
    )

    base = ("the quick brown fox jumps over the lazy dog while carrying "
            "a very heavy basket of fresh garden vegetables to market "
            "every single morning before sunrise and returns home late")
    words = base.split()
    a = " ".join(words)
    mid = list(words)
    mid[3] = "red"          # B: one word differs from A
    b = " ".join(mid)
    far = list(mid)
    far[-2] = "quite"       # C: one word differs from B, two from A
    far[7] = "happy"
    c = " ".join(far)
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (99, "completely unrelated text about "
                                      "spark shuffle partitions and arrow "
                                      "record batches in a columnar engine")],
        ["doc_id", "text"],
    )
    pairs = {(r["doc_a"], r["doc_b"])
             for r in lsh_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs
    assert not any(99 in p for p in pairs)
    groups = duplicate_groups(docs).collect()
    by_doc = {r["doc_id"]: r for r in groups}
    assert set(by_doc) == {1, 2, 3}  # 99 is in no group
    assert {by_doc[d]["canonical_id"] for d in (1, 2, 3)} == {1}
    assert {by_doc[d]["group_size"] for d in (1, 2, 3)} == {3}


def test_ngram_jaccard_max_df_drops_hot_shingle(spark):
    """One ubiquitous shingle must not pair otherwise-unrelated docs
    (the quadratic-bucket skew killer)."""
    from westa_ocr_spark.operators.dedup import ngram_jaccard_pairs

    hot = "copyright all rights reserved"
    docs = spark.createDataFrame(
        [(i, f"{hot} unique{i} token{i} filler{i} "
              f"word{i * 7} tail{i * 13}") for i in range(1, 9)],
        ["doc_id", "text"],
    )
    # with the cap at df<=3 the shared boilerplate shingles vanish ->
    # no candidate pairs at all
    capped = ngram_jaccard_pairs(docs, max_df=3, top_n=None)
    assert capped.count() == 0
    # without the cap the hot shingles pair every doc with every doc
    uncapped = ngram_jaccard_pairs(docs, max_df=None, top_n=None)
    assert uncapped.count() == 8 * 7 // 2


def _simhash64_py(text: str) -> int:
    """Pure-python 64-bit SimHash — the semantic reference for the
    vectorized batch path."""
    import hashlib
    import re

    words = re.sub(r"[^a-z0-9 ]", " ", (text or "").lower()).split()
    votes = [0] * 64
    for w in words:
        h = int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
        for bit in range(64):
            votes[bit] += 1 if (h >> bit) & 1 else -1
    sim = sum(1 << b for b in range(64) if votes[b] > 0)
    return sim - (1 << 64) if sim >= (1 << 63) else sim


def test_simhash64_vectorized_matches_pure_python(spark):
    from westa_ocr_spark.corpus import generate_rows
    from westa_ocr_spark.operators.dedup import simhash64

    texts = []
    for row in generate_rows(40):
        texts.append(row["text"] or row["url"])
    texts += ["", "   ", "one", "Ünïcode słowa 漢字 mixed WITH caps 123"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["simhash64"] for r in simhash64(docs).collect()}
    want = {i: _simhash64_py(t) for i, t in enumerate(texts)}
    assert got == want


def test_embedding_dup_pairs_lsh_finds_true_near_dups(spark):
    """Banded hyperplane LSH targets cosine~1 duplicates: seeded base
    vectors plus tiny noise MUST collide in >=1 band and survive the
    exact rescore; the pair set is sound (subset of exact)."""
    import numpy as np

    from westa_ocr_spark.operators.similarity import (
        cosine_dup_pairs_exact,
        cosine_dup_pairs_lsh,
    )

    rng = np.random.default_rng(123)
    dim = 32
    rows = []
    vid = 0
    for g in range(6):  # 6 groups of 3 near-identical vectors
        base = rng.standard_normal(dim)
        base /= np.linalg.norm(base)
        for _ in range(3):
            noisy = base + rng.standard_normal(dim) * 0.01
            rows.append((vid, [float(x) for x in noisy]))
            vid += 1
    for _ in range(30):  # background noise vectors
        v = rng.standard_normal(dim)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = {(r.id_a, r.id_b)
             for r in cosine_dup_pairs_exact(emb, 0.95).collect()}
    lsh = {(r.id_a, r.id_b)
           for r in cosine_dup_pairs_lsh(emb, dim, 0.95).collect()}
    # 6 groups x C(3,2) = 18 true near-dup pairs
    assert len(exact) == 18
    assert lsh == exact  # full recall at cosine~1, zero false pairs


def test_connected_components_long_chain_converges(spark):
    """Pointer doubling: a 60-node path graph converges within the
    default round budget (plain 1-hop propagation would need 59)."""
    from westa_ocr_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["doc_a", "doc_b"]
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert set(comp.values()) == {0}
    assert len(comp) == 61


def test_connected_components_10k_path_converges_olog(spark):
    """Adversarial diameter: a 10,000-node path graph must converge
    within the default 20-round budget — only possible if pointer
    doubling really halves the distance-to-root each round
    (ceil(log2(10000)) ~ 14); plain propagation would need 10,000
    rounds and trip the non-convergence guard."""
    import time

    from westa_ocr_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10_000)], ["doc_a", "doc_b"]
    )
    t0 = time.time()
    out = connected_components(edges).collect()
    elapsed = time.time() - t0
    comp = {r["node"]: r["component"] for r in out}
    assert set(comp.values()) == {0}
    assert len(comp) == 10_001
    assert elapsed < 60, f"took {elapsed:.1f}s"


def test_line_corpus_dedup_semantics(spark):
    from westa_ocr_spark.operators.dedup import line_corpus_dedup

    banner = "accept cookies to continue"
    rows = [(i, f"headline {i}\n{banner}\nbody text {i}")
            for i in range(12)]
    rows.append((99, banner))  # a doc that is ONLY boilerplate
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["text"]
           for r in line_corpus_dedup(docs, max_line_df=5).collect()}
    assert len(out) == 13  # row count preserved (lineage)
    for i in range(12):
        assert out[i] == f"headline {i}\nbody text {i}"  # order kept
    assert out[99] == ""  # fully-boilerplate doc comes back empty


def test_cms_guarantee_and_merge(spark):
    """CMS property: estimate >= true count, overestimate bounded;
    sketches over two halves MERGE (union + re-agg) into the sketch
    of the whole."""
    from pyspark.sql import functions as F

    from westa_ocr_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.range(0, 4000).select(
        (F.col("id") % 50).alias("k")
    )  # every key appears exactly 80 times
    sketch = cms_build(df, "k")
    keys = df.select("k").distinct()
    est = {r["key"]: r["est"] for r in
           cms_estimate(sketch, keys, "k").collect()}
    assert set(est) == set(range(50))
    for k, e in est.items():
        assert e >= 80          # never underestimates
        assert e <= 80 + 400    # eps*N slack (w=1024, N=16k rows)

    # mergeability: sketch(halfA) union sketch(halfB) re-aggregated
    # equals sketch(whole), row for row
    a = cms_build(df.filter("k < 25"), "k")
    b = cms_build(df.filter("k >= 25"), "k")
    merged = (
        a.unionByName(b)
        .groupBy("depth", "bucket")
        .agg(F.sum("count").alias("count"))
    )
    whole = {(r["depth"], r["bucket"]): r["count"]
             for r in sketch.collect()}
    got = {(r["depth"], r["bucket"]): r["count"]
           for r in merged.collect()}
    assert got == whole


def test_line_dedup_broadcast_gate(spark):
    """A hot-line list bigger than the gate must run as a SHUFFLE
    anti-join (no BroadcastExchange), and the result must match the
    broadcast path exactly — at crawl scale the >max_line_df line set
    is unbounded, so the hint must be proven, not hoped."""
    from pyspark.sql import functions as F

    from westa_ocr_spark.operators.dedup import line_corpus_dedup

    boiler = "cookie banner\nnav crumb\nshare bar"
    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(boiler + "\n"), F.lit("unique line "), F.col("id")
        ).alias("text"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = line_corpus_dedup(docs, max_line_df=10, broadcast_gate=1)
        plan = gated._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        hinted = line_corpus_dedup(docs, max_line_df=10)
        hplan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in hplan, hplan
        assert sorted(map(tuple, gated.collect())) == sorted(
            map(tuple, hinted.collect())
        )
        got = {r["doc_id"]: r["text"] for r in gated.collect()}
        assert got[5] == "unique line 5"  # boilerplate stripped
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cms_absent_key_estimates_zero(spark):
    """A probe key the sketch never saw must estimate 0 whenever ANY
    of its depth buckets is empty — and must always produce an output
    row (the pre-fix inner join dropped empty depths from the min,
    inflating the estimate, and emitted no row at all for a key with
    all-empty buckets)."""
    from pyspark.sql import functions as F

    from westa_ocr_spark.operators.sketches import cms_build, cms_estimate

    df = spark.range(0, 40).select((F.col("id") % 4).alias("k"))
    sketch = cms_build(df, "k")  # 4 keys -> at most 4 buckets per depth
    probes = spark.createDataFrame(
        [(f"absent_{i}",) for i in range(64)], ["k"]
    )
    est = {r["key"]: r["est"] for r in
           cms_estimate(sketch, probes, "k").collect()}
    assert len(est) == 64  # every probe key yields a row
    # with 4 occupied buckets out of 1024 per depth x 4 depths, the
    # chance an absent key collides in ALL depths is ~(4/1024)^4; 64
    # independent probes must therefore all see an empty depth -> 0
    assert all(v == 0 for v in est.values()), est


def test_dedup_against_store_across_runs(spark, tmp_path):
    """Cross-run incremental dedup: run 2 drops content the STORE has
    seen (re-crawled under new ids), keeps fresh content, dedupes
    within itself, and the store registration is idempotent on
    re-run (crash-retry semantics)."""
    from westa_ocr_spark.operators.dedup import (
        dedup_against_store,
        fp_bucket_store,
    )

    store = fp_bucket_store(str(tmp_path / "fp_store"))
    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], ["doc_id", "text"]
    )
    out1 = dedup_against_store(spark, b1, store)
    assert {r["doc_id"] for r in out1.collect()} == {1, 2}

    b2 = spark.createDataFrame(
        [
            (10, "alpha text"),    # re-crawl of doc 1 -> dropped
            (11, "gamma text"),    # fresh -> kept
            (12, "gamma text"),    # in-batch dup -> min id wins
            (13, "delta text"),    # fresh -> kept
        ],
        ["doc_id", "text"],
    )
    out2 = dedup_against_store(spark, b2, store)
    assert {r["doc_id"] for r in out2.collect()} == {11, 13}

    # crash-retry: re-running batch 2 returns the SAME survivors (its
    # pairs are already registered, so the committed store recovers
    # them) and the store still maps each fingerprint to its
    # first-registered id — nothing double-admitted, nothing lost
    out2b = dedup_against_store(spark, b2, store)
    assert {r["doc_id"] for r in out2b.collect()} == {11, 13}
    reg = {r["fp"]: r["doc_id"] for r in store.read(spark).collect()}
    assert sorted(reg.values()) == [1, 2, 11, 13]
    # merge_upsert(unique_keys=True) skips the sink's key dedup, so the
    # caller's promise must hold: no fingerprint is stored twice
    assert store.read(spark).count() == len(reg)


def test_fp_bucket_store_modulus_pinned(spark, tmp_path):
    """Round 5: the bucket count is pinned in the sidecar at creation;
    reopening with a DIFFERENT n_buckets must honor the original
    modulus (a mismatched bucketing would silently break partition
    pruning and merge routing)."""
    from pyspark.sql import functions as F

    from westa_ocr_spark.operators.dedup import (
        dedup_against_store,
        fp_bucket_store,
    )

    path = str(tmp_path / "store")
    store = fp_bucket_store(path, n_buckets=8)
    assert store.fp_buckets == 8
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text body "), F.col("id")).alias("text"),
    )
    dedup_against_store(spark, docs, store)
    # reopen asking for 64: sidecar wins
    reopened = fp_bucket_store(path, n_buckets=64)
    assert reopened.fp_buckets == 8
    # a second batch through the reopened store stays consistent:
    # same CONTENT under new ids is a re-crawl -> dropped by the
    # store (identical (fp, doc_id) re-ingest would instead be the
    # idempotent crash-retry case, which re-admits by design)
    recrawl = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    out = dedup_against_store(spark, recrawl, reopened)
    assert out.count() == 0
    import os

    buckets = {
        d for d in os.listdir(path) if d.startswith("fp_bucket=")
    }
    assert buckets and all(
        int(b.split("=")[1]) < 8 for b in buckets
    )
