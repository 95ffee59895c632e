"""Unit tests for the library surface added in round 2:
webextract.dedup / ann / textstats / validate — the reusable APIs a user
applies to their own DataFrames (battery parity is covered separately by
scripts/check_entry.py against the DuckDB oracles)."""

import pyspark.sql.functions as F
import pytest

from webextract import ann, dedup, textstats, validate


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),      # exact dup of 0
        (2, "alpha beta gamma delta epsilon ZETA"),      # near dup of 0
        (3, "totally different words entirely here now"),
        (4, "alpha beta gamma delta epsilon zeta"),      # exact dup of 0
        (5, "one two three four five six seven"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_duplicates(docs):
    out = dedup.exact_duplicates(docs, F.col("text"), "doc_id").collect()
    assert len(out) == 1
    assert out[0]["n_dups"] == 3 and out[0]["keep_id"] == 0


def test_minhash_identical_docs_share_signature(docs):
    sig = dedup.minhash_signatures(docs, n_hashes=4).collect()
    by_id = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"]) for r in sig}
    assert by_id[0] == by_id[1] == by_id[4]
    assert by_id[0] != by_id[3]


def test_candidate_pairs_and_jaccard(docs):
    sig = dedup.minhash_signatures(docs, n_hashes=4)
    pairs = dedup.candidate_pairs(sig, bucket_cap=100)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got and (0, 4) in got and (1, 4) in got
    tok = dedup.distinct_tokens(docs)
    verified = dedup.jaccard_verify(
        pairs.select("id_a", "id_b"), tok, threshold=0.99)
    vgot = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert vgot == {(0, 1), (0, 4), (1, 4)}  # exact dups only at 0.99


def test_bucket_cap_bounds_pairs(spark):
    # 50 identical docs in one bucket: cap 5 ⇒ at most C(5,2)=10 pairs
    rows = [(i, "same same same same") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sig = dedup.minhash_signatures(df, n_hashes=4)
    capped = dedup.candidate_pairs(sig, bucket_cap=5).count()
    uncapped = dedup.candidate_pairs(sig, bucket_cap=None).count()
    assert capped == 10 and uncapped == 50 * 49 // 2


def test_duplicate_clusters_star(docs):
    sig = dedup.minhash_signatures(docs, n_hashes=4)
    clusters = {r["cluster_id"]: r for r in
                dedup.duplicate_clusters(sig).collect()}
    assert clusters[0]["n_members"] == 3 and clusters[0]["keep_id"] == 0


def test_simhash_close_for_near_dups(docs):
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert out[0] == out[1]
    assert ham(out[0], out[2]) <= ham(out[0], out[3])


@pytest.fixture(scope="module")
def emb(spark):
    import math
    rows = []
    for i in range(12):
        angle = (i % 6) / 6.0 * math.pi
        rows.append((i, [math.cos(angle), math.sin(angle), 0.1 * i, 1.0]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_cosine_topk_exact(emb):
    out = ann.cosine_topk(emb, [0], k=3).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert all(-1.0 <= r["cosine"] <= 1.0 for r in out)


def test_bucketed_topk_neighbors_share_bucket(emb):
    bkt = {r["vec_id"]: r["bucket"] for r in ann.lsh_buckets(emb).collect()}
    out = ann.bucketed_topk(emb, k=1, bucket_cap=64).collect()
    assert out, "every non-singleton bucket should yield neighbors"
    for r in out:
        assert bkt[r["q_id"]] == bkt[r["neighbor_id"]]


def test_near_dup_pairs_symmetric_threshold(emb):
    out = ann.near_dup_pairs(emb, threshold=0.999)
    for r in out.collect():
        assert r["vec_a"] < r["vec_b"] and r["cosine"] >= 0.999


def test_textstats_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello world 42 ok!")], "doc_id bigint, text string")
    r = textstats.token_counts(df).collect()[0]
    assert r["n_tokens"] == 4
    assert r["n_subtokens"] == 5  # hello/world/42/ok/!


def test_textstats_lang_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat is on the mat"), (2, "của và các là người")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r["pred_lang"]
           for r in textstats.lang_id_stopwords(df).collect()}
    assert out == {1: "en", 2: "vi"}


def test_textstats_quality_monotone_length(spark):
    df = spark.createDataFrame(
        [(1, "word " * 10), (2, "word " * 200)], "doc_id bigint, text string")
    out = {r["doc_id"]: r["quality_score"]
           for r in textstats.quality_scores(df).collect()}
    # longer doc saturates the length term; repetition identical
    assert out[2] > out[1]


def test_validate_field_warnings_all_kinds(spark):
    span_t = ("array<struct<name:string,value:string,field_type:string,"
              "start:bigint,end:bigint,confidence:double,is_required:boolean,"
              "method:string>>")
    mk = lambda n, v, t, c, req: (n, v, t, 0, len(v), c, req, "pattern")  # noqa: E731
    rows = [(
        "https://x/doc1",
        [
            mk("req_missing", "", "TEXT", 0.0, True),
            mk("bad_date", "13-13-13", "DATE", 0.9, False),
            mk("bad_num", "12/34", "NUMERIC", 0.9, False),
            mk("low_conf", "ok", "TEXT", 0.5, False),
            mk("fine", "01/02/2024", "DATE", 0.9, False),
        ],
    )]
    df = spark.createDataFrame(rows, f"url string, spans {span_t}")
    out = validate.field_warnings(df).collect()
    got = {(r["field_name"], r["warning"]) for r in out}
    assert got == {
        ("req_missing", validate.MISSING_REQUIRED),
        ("req_missing", validate.LOW_CONFIDENCE),
        ("bad_date", validate.BAD_DATE_FORMAT),
        ("bad_num", validate.BAD_NUMERIC),
        ("low_conf", validate.LOW_CONFIDENCE),
    }


def test_hot_token_drop(spark):
    rows = [(i, f"common unique{i} word{i % 2}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    full = dedup.distinct_tokens(df)
    dropped = dedup.distinct_tokens(df, max_doc_frac=0.5)
    toks = {r["token"] for r in dropped.collect()}
    assert "common" not in toks          # in 100% of docs → dropped
    assert "word0" in toks and "word1" in toks  # 50% ≤ frac → kept
    assert full.count() > dropped.count()


def test_ivf_topk_neighbors_share_cell(emb):
    cells = {r["vec_id"]: r["bucket"] for r in ann.ivf_assign(
        emb, ann.ivf_centroids(emb, n_cells=3)).collect()}
    assert len(set(cells.values())) <= 3
    out = ann.ivf_topk(emb, k=1, n_cells=3, bucket_cap=64).collect()
    assert out
    for r in out:
        assert cells[r["q_id"]] == cells[r["neighbor_id"]]


def test_simhash_pairs_recall_guarantee(spark):
    # hamming(a,b)=2 ≤ n_bands-1 ⇒ the pair MUST be found via banding
    rows = [(1, 0b1010101010101010), (2, 0b1010101010101001),  # ham 2
            (3, 0b0101010101010101)]                           # far from 1
    df = spark.createDataFrame(rows, "doc_id bigint, simhash bigint")
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_pairs(df, max_hamming=3).collect()}
    assert out.get((1, 2)) == 2
    assert (1, 3) not in out and (2, 3) not in out


def test_shingles(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b")], "doc_id bigint, text string")
    out = {(r["doc_id"], r["token"]) for r in dedup.shingles(df, n=3).collect()}
    assert out == {(1, "a b c"), (1, "b c d")}  # doc 2 too short → none


def test_shingle_minhash_discriminates_reorder(spark):
    # identical token SETS, different order: unigram minhash collides,
    # shingle minhash must not
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6"), (2, "w6 w5 w4 w3 w2 w1")],
        "doc_id bigint, text string")
    uni = dedup.minhash_signatures(df, n_hashes=4).collect()
    u = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"]) for r in uni}
    assert u[1] == u[2]
    sh = dedup.minhash_signatures_from_tokens(
        dedup.shingles(df, n=3), n_hashes=4).collect()
    s = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"]) for r in sh}
    assert s[1] != s[2]


def test_cluster_pairs_converges_on_chain(spark):
    # a 7-node chain (diameter 6) — the fixed-k unroll would under-label
    # this; the fixpoint loop must fully converge to min-label 0
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(10, 11)],
        "id_a bigint, id_b bigint")
    out = {r["node"]: r["cluster_id"]
           for r in dedup.cluster_pairs(pairs).collect()}
    assert all(out[i] == 0 for i in range(7))
    assert out[10] == out[11] == 10


def test_deduplicate_keeps_one_per_cluster(docs):
    kept = {r["doc_id"] for r in dedup.deduplicate(docs).collect()}
    # docs 0/1/4 are identical → only 0 survives; others untouched
    assert kept == {0, 2, 3, 5}


# ------------------------------------------------ round-3 additions


def test_simhash_64bit_no_nulls(docs):
    # ADVICE r2: conv(hex,16,10).cast(bigint) overflowed for token hashes
    # >= 2^63, nulling ~half of all 64-bit simhashes. The two-half
    # assembly must yield a non-null signed hash for every doc, with
    # exact dups still colliding.
    out = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash(docs, bits=64).collect()}
    assert all(v is not None for v in out.values())
    assert out[0] == out[1] == out[4]
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(out[0], out[2]) <= ham(out[0], out[3])


def test_simhash_rejects_bad_bits(docs):
    with pytest.raises(ValueError):
        dedup.simhash(docs, bits=65)


def test_cap_buckets_semantics(spark):
    # 1 bucket, 250 members, cap 10 ⇒ exactly ids 0..9 survive (the
    # plan shape is pinned in test_plans)
    rows = [(i, 0, "k") for i in range(250)]
    df = spark.createDataFrame(rows, "doc_id bigint, band int, bkey string")
    capped = dedup.cap_buckets(df, "doc_id", bucket_cap=10)
    assert sorted(r["doc_id"] for r in capped.collect()) == list(range(10))


def test_cap_buckets_keeps_every_row_of_a_kept_id(spark):
    # the contract: every row whose id is among the cap smallest
    # DISTINCT ids of its bucket — a duplicated id ranks once and all
    # of its rows stay or go together
    ids = [3, 0, 2, 0, 1, 2, 4, 2, 5]
    rows = [(i, 0, "k", f"r{n}") for n, i in enumerate(ids)] + [
        (9, 1, "k", "other"), (9, 1, "k", "other2"), (8, 1, "k", "x")]
    df = spark.createDataFrame(
        rows, "doc_id bigint, band int, bkey string, tag string")
    got = sorted((r["doc_id"], r["band"], r["bkey"], r["tag"]) for r in
                 dedup.cap_buckets(df, "doc_id", bucket_cap=3).collect())
    want = []
    for key in {(b, k) for _, b, k, _ in rows}:
        members = [r for r in rows if (r[1], r[2]) == key]
        small = sorted({r[0] for r in members})[:3]
        want += [r for r in members if r[0] in small]
    assert got == sorted(want)
    assert sum(1 for r in got if r[0] == 2) == 3   # all rows of id 2


def test_cap_buckets_preserves_extra_columns(spark):
    rows = [(i, 0, "k", f"x{i}") for i in range(20)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, band int, bkey string, extra string")
    got = {r["doc_id"]: r["extra"]
           for r in dedup.cap_buckets(df, "doc_id", bucket_cap=5).collect()}
    assert got == {i: f"x{i}" for i in range(5)}


@pytest.fixture(scope="module")
def clustered_emb(spark):
    # 3 tight clusters of 10 vectors in 4-dim — the fixture where ANN
    # partitioning is actually meaningful (the uniform fixture is not)
    rows = []
    centers = [(10.0, 0.0, 0.0, 1.0), (0.0, 10.0, 0.0, 1.0),
               (0.0, 0.0, 10.0, 1.0)]
    for i in range(30):
        c = centers[i % 3]
        off = 0.05 * (i // 3)
        rows.append((i, [c[0] + off, c[1] - off, c[2] + 2 * off, c[3]]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_ivf_kmeans_improves_centroids(clustered_emb):
    # Lloyd-refined centroids must cut within-cell SSE vs the sampled
    # init (means minimize SSE; sampled centroids are corpus points)
    import math

    vecs = {r["vec_id"]: r["embedding"]
            for r in clustered_emb.collect()}

    def sse(cents_df):
        cents = [list(r["cvec"]) for r in cents_df.collect()]
        total = 0.0
        for v in vecs.values():
            total += min(sum((a - b) ** 2 for a, b in zip(v, c))
                         for c in cents)
        return total

    sampled = sse(ann.ivf_centroids(clustered_emb, n_cells=3))
    trained = sse(ann.ivf_centroids_kmeans(clustered_emb, n_cells=3, iters=2))
    assert trained < sampled
    assert math.isfinite(trained)


def test_ann_recall_on_clustered_fixture(clustered_emb):
    # exact top-3 of each vector = its own tight cluster ⇒ a correct IVF
    # assignment recovers nearly all of them (the recall-gate machinery)
    exact = {(r["q_id"], r["neighbor_id"])
             for r in ann.cosine_topk(clustered_emb, None, k=3).collect()}
    approx = {(r["q_id"], r["neighbor_id"])
              for r in ann.ivf_topk(clustered_emb, k=3, n_cells=3,
                                    bucket_cap=64).collect()}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"ivf recall@3 {recall:.2f} on clustered fixture"


def test_cluster_pairs_warns_when_unconverged(spark):
    import warnings as w
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a bigint, id_b bigint")
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        dedup.cluster_pairs(pairs, max_rounds=2).collect()
    assert any("did NOT converge" in str(x.message) for x in rec)


def test_cache_release_unpersists(docs):
    from webextract import cache

    sig = dedup.minhash_signatures(docs, n_hashes=4)
    sig.count()
    assert sig.storageLevel.useMemory or sig.storageLevel.useDisk
    n = cache.release(sig)
    assert n >= 1
    assert not (sig.storageLevel.useMemory or sig.storageLevel.useDisk)
    assert cache.release(sig) == 0  # idempotent


def test_ivf_multi_probe_recall_monotone(clustered_emb):
    # probing more cells can only add candidates ⇒ recall@k must not drop
    exact = {(r["q_id"], r["neighbor_id"])
             for r in ann.cosine_topk(clustered_emb, None, k=3).collect()}

    def recall(probes):
        got = {(r["q_id"], r["neighbor_id"])
               for r in ann.ivf_topk(clustered_emb, k=3, n_cells=5,
                                     bucket_cap=64, probes=probes).collect()}
        return len(got & exact) / len(exact)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1
    assert r2 > 0.5


def test_deduplicate_fuzzy_removes_near_dups(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),   # exact
        (2, "the quick brown fox jumps over the lazy cat today"),   # near
        (3, "completely unrelated sentence about spark pipelines"),
        (4, "another document with its own distinct vocabulary set"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # max_doc_frac=None: on a 5-doc corpus the default 0.5 guard would
    # (correctly, per its contract) drop the shared vocabulary itself
    kept = {r["doc_id"]
            for r in dedup.deduplicate_fuzzy(df, threshold=0.7,
                                             max_doc_frac=None).collect()}
    # 0/1/2 form one near-dup cluster (jaccard(0,2) = 8/10 >= 0.7) → keep 0
    assert kept == {0, 3, 4}
    # strict variant keeps the near-dup (different token set)
    strict = {r["doc_id"] for r in dedup.deduplicate(df).collect()}
    assert strict == {0, 2, 3, 4}


def test_fuzzy_dedup_hot_token_guard_default_on(spark):
    # stop-word-heavy corpus: 60 docs sharing a 20-token boilerplate
    # prefix, each with 5 unique tail tokens (Jaccard 20/30 < 0.7 — NOT
    # near-dups). Unguarded unigram banding collides everyone on the
    # stop-words and feeds O(N²) pairs to the verify join; the default
    # max_doc_frac=0.5 drops the boilerplate first and the candidate set
    # stays bounded (r3 verdict #4).
    stop = " ".join(f"s{i}" for i in range(20))
    rows = [(d, f"{stop} u{d}a u{d}b u{d}c u{d}d u{d}e") for d in range(60)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    def n_candidates(frac):
        tok = dedup.distinct_tokens(df, max_doc_frac=frac)
        sig = dedup.minhash_signatures_from_tokens(tok, "doc_id", 4)
        return dedup.candidate_pairs(sig, "doc_id", 4, 2).count()

    unguarded, guarded = n_candidates(None), n_candidates(0.5)
    assert unguarded > 500           # the quadratic trap, demonstrated
    assert guarded < 50              # bounded by default
    # and the default end-to-end path keeps every non-duplicate doc
    kept = {r["doc_id"] for r in dedup.deduplicate_fuzzy(df).collect()}
    assert kept == set(range(60))


def test_ann_drops_null_and_empty_embeddings(spark):
    # failed-embed rows (null / empty arrays) must vanish from every ANN
    # path — they would otherwise collapse into bucket 0 with NULL or
    # NaN cosines (r3 review finding)
    rows = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.1]),
            (2, []), (3, None), (4, [0.9, 2.0, 3.0, 4.0])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    bkt = ann.lsh_buckets(emb, persist=False).collect()
    assert {r["vec_id"] for r in bkt} == {0, 1, 4}
    out = ann.bucketed_topk(emb, k=2, bucket_cap=8).collect()
    bad = {2, 3}
    for r in out:
        assert r["q_id"] not in bad and r["neighbor_id"] not in bad
        assert r["cosine"] is not None
    ivf = ann.ivf_topk(emb, k=1, n_cells=2, probes=2).collect()
    for r in ivf:
        assert r["q_id"] not in bad and r["neighbor_id"] not in bad


def test_release_all_survives_derived_frames(docs):
    # the tracking attribute dies on .select(); release_all() must still
    # unpersist the library's intermediates (r3 review finding)
    from webextract import cache

    cache.release_all()  # clean slate
    sig = dedup.minhash_signatures(docs, n_hashes=4)
    derived = sig.select("doc_id")      # tracking lost on this object
    derived.count()
    assert cache.release(derived) == 0  # documented no-op on derived
    assert cache.release_all() >= 1     # sweep still finds sig
    assert not (sig.storageLevel.useMemory or sig.storageLevel.useDisk)


def test_iceberg_jar_version_aware(tmp_path):
    from webextract import checkpoint

    d = tmp_path / "jars"
    d.mkdir()
    for v in ["1.9.1", "1.10.0", "1.2.3"]:
        (d / f"iceberg-spark-runtime-3.5_2.12-{v}.jar").write_text("x")
    got = checkpoint.iceberg_jar(roots=[str(tmp_path)])
    assert got.endswith("1.10.0.jar")


def test_cap_buckets_degenerate_mega_bucket(spark):
    # 300k members in ONE bucket: the salted first level must hand the
    # unsalted one only its few survivors and still return exactly the
    # 100 smallest ids
    import pyspark.sql.functions as F

    df = spark.range(300_000).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("band"),
        F.lit("k").alias("bkey"))
    out = sorted(r["doc_id"] for r in
                 dedup.cap_buckets(df, "doc_id", bucket_cap=100).collect())
    assert out == list(range(100))


def test_deduplicate_fuzzy_shingle_mode(spark):
    # shingle tokenization discriminates reorderings that unigram
    # fuzzy-dedup would (wrongly, for this corpus policy) merge
    rows = [(1, "w1 w2 w3 w4 w5 w6"), (2, "w6 w5 w4 w3 w2 w1"),
            (3, "w1 w2 w3 w4 w5 w6")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    uni = {r["doc_id"] for r in
           dedup.deduplicate_fuzzy(df, threshold=0.9,
                                   max_doc_frac=None).collect()}
    assert uni == {1}                      # identical token SETS merge
    sh = {r["doc_id"] for r in
          dedup.deduplicate_fuzzy(df, threshold=0.9,
                                  shingle_n=3).collect()}
    assert sh == {1, 2}                    # reordering survives


def test_ivf_topk_trained_path(clustered_emb):
    # trained=True end-to-end (Lloyd centroids feed the same search):
    # neighbors stay within the trained cells and recall on the
    # clustered fixture is at least as good as the floor
    exact = {(r["q_id"], r["neighbor_id"])
             for r in ann.cosine_topk(clustered_emb, None, k=3).collect()}
    got = {(r["q_id"], r["neighbor_id"])
           for r in ann.ivf_topk(clustered_emb, k=3, n_cells=3,
                                 trained=True, probes=2).collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"trained ivf recall@3 {recall:.2f}"


def test_deduplicate_embeddings_end_to_end(clustered_emb):
    # 3 tight clusters of 10 → keep one representative per cluster at a
    # high threshold (cluster members are mutual near-dups), invalid
    # rows untouched
    import pyspark.sql.functions as F

    spark = clustered_emb.sparkSession
    extra = spark.createDataFrame(
        [(100, None)], "vec_id bigint, embedding array<float>")
    emb = clustered_emb.unionByName(extra)
    kept = {r["vec_id"] for r in
            ann.deduplicate_embeddings(emb, threshold=0.9999,
                                       bucket_cap=64).collect()}
    assert 100 in kept                       # invalid row kept
    valid_kept = kept - {100}
    assert {0, 1, 2} <= valid_kept           # one minimum per cluster
    assert len(valid_kept) < 30              # near-dups removed


def test_lsh_multiprobe_recall_monotone(spark):
    # flipping probe bits can only add candidates ⇒ recall must not drop
    # (and on a spread-out corpus it should genuinely rise)
    import math

    rows = [(i, [math.cos(i * 0.37 + d) + 0.01 * ((i * 7 + d) % 5)
                 for d in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")
    exact = {(r["q_id"], r["neighbor_id"])
             for r in ann.cosine_topk(emb, None, k=3).collect()}

    def recall(flips):
        got = {(r["q_id"], r["neighbor_id"])
               for r in ann.bucketed_topk(emb, k=3, bucket_cap=64,
                                          probe_flips=flips).collect()}
        return len(got & exact) / len(exact)

    r0, r4 = recall(0), recall(4)
    assert r4 >= r0
    assert r4 > 0


def test_ivf_multiprobe_release_on_result(clustered_emb):
    # ADVICE r3 (medium): ivf_topk(probes>1) passes DERIVED frames into
    # _topk_within, so the persisted chain (ranked assignments, trained
    # centroids) must arrive on the result via query_bkt — release() on
    # the outermost result has to reclaim EVERYTHING the call persisted
    from webextract import cache

    cache.release_all()  # clean slate
    out = ann.ivf_topk(clustered_emb, k=1, n_cells=3, probes=2)
    out.count()
    assert cache.release(out) >= 1
    # nothing left for the sweep: the per-result contract held
    assert cache.release_all() == 0


def test_ann_oracles_agree_on_invalid_rows(spark, tmp_path):
    # ADVICE r3: the Spark kernels drop null/empty/null-element
    # embeddings (ann._valid); the DuckDB oracles must apply the SAME
    # filter. Run the registered query + oracle pairs on a fixture that
    # CONTAINS invalid rows and require identical value hashes — before
    # the fix the oracles only matched because the driver fixture was
    # all-valid.
    import duckdb

    import __spark_entry__ as entry
    from scripts.check_entry import value_hash
    from webextract import cache

    rows = []
    for i in range(24):
        rows.append((i, [float((i * 7 + d * 3) % 11 - 5) + 0.1 * d
                         for d in range(8)], i % 3))
    rows += [(90, [], 0),                                   # empty
             (91, None, 1),                                 # null array
             (92, [1.0, None, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], 2),  # null elem
             (93, [0.0] * 8, 0)]                            # zero-norm (r4)
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    sf_dir = str(tmp_path)
    emb.coalesce(1).write.parquet(f"{sf_dir}/embeddings.parquet")

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS "
            f"SELECT * FROM '{sf_dir}/embeddings.parquet/*.parquet'")
    qs, oracles = entry.queries(), entry.oracle_sql()
    for name in ["embedding_norms", "ann_lsh_buckets", "ann_lsh_topk",
                 "ann_ivf_topk", "cosine_topk_bruteforce",
                 "embedding_near_dup_bucketed", "ann_recall_at_k"]:
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        finally:
            cache.release_all()
        ddf = con.sql(oracles[name]).df()
        assert value_hash(sdf) == value_hash(ddf), name
        # and the invalid ids really are excluded everywhere
        for col in ("vec_id", "q_id", "neighbor_id", "vec_a", "vec_b"):
            if col in sdf.columns:
                assert not set(sdf[col]) & {90, 91, 92, 93}, (name, col)


def test_ann_kernels_total_on_mixed_width_and_empty(spark):
    # ragged-width corpora (embedder drift, truncated writes) must not
    # kill ANN tasks: np.stack is per-width-group (r4 review); deviant
    # widths never pair cross-width, and a corpus with zero valid
    # vectors returns empty instead of crashing the driver
    from webextract import cache

    rows = ([(i, [float(i + j + 1) for j in range(8)]) for i in range(20)]
            + [(99, [1.0, 2.0]), (98, [3.0, 4.0])])
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    topk = ann.bucketed_topk(emb, k=2).collect()
    nd = ann.bucketed_near_dups(emb, threshold=0.5).collect()
    ivf = ann.ivf_topk(emb, k=2, n_cells=3, probes=2).collect()
    cache.release_all()
    assert topk and nd and ivf
    wide = set(range(20))
    for r in topk + ivf:
        pair = {r["q_id"], r["neighbor_id"]}
        assert pair <= wide or pair <= {98, 99}, r
    for r in nd:
        pair = {r["vec_a"], r["vec_b"]}
        assert pair <= wide or pair <= {98, 99}, r

    empty = spark.createDataFrame([(0, None), (1, [])],
                                  "vec_id bigint, embedding array<float>")
    assert ann.ivf_topk(empty, k=1, n_cells=2).count() == 0
    assert ann.bucketed_topk(empty, k=1).count() == 0
    cache.release_all()

    # probes > surviving same-width centroids (r4 advice): the width
    # filter drops deviant centroids, and the probe count must clamp to
    # the SURVIVORS — pre-fix, np.repeat(ids, p) mismatched
    # cids[pr].ravel() and the executor raised ValueError
    cents = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [9.0, 9.0]), (2, [8.0, 8.0])],
        "cell_id int, cvec array<double>")
    q = spark.createDataFrame(
        [(7, [1.0, 2.0, 3.0, 4.0]), (8, [2.0, 2.0, 2.0, 2.0])],
        "vec_id bigint, embedding array<float>")
    ranked = ann._assign_ranked(q, cents, "vec_id", "embedding",
                                probes=3).collect()
    assert {(r["vec_id"], r["bucket"], r["_pr"]) for r in ranked} \
        == {(7, 0, 1), (8, 0, 1)}


def test_ann_query_salting_invariant(spark):
    # mega-bucket skew guard: the within-bucket kernel groups by
    # (bucket, salt) with the capped candidate set replicated per salt —
    # results must be IDENTICAL at any salt count (each query meets each
    # candidate exactly once), including with the cap engaged and
    # self-pairs excluded across the replicated copies
    from webextract import cache

    rows = ([(i, [c * (0.5 + 0.01 * i) for c in (1.0, 2.0, 3.0, 4.0)])
             for i in range(30)] +
            [(i, [c * (0.5 + 0.01 * i) for c in (4.0, 3.0, 2.0, 1.0)])
             for i in range(30, 60)])
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    bkt = ann.lsh_buckets(emb, persist=False)

    def run(s):
        out = ann._topk_within(emb, bkt, "vec_id", "embedding",
                               3, 10, 4, n_salts=s)
        try:
            return sorted(tuple(r) for r in out.collect())
        finally:
            cache.release_all()

    one = run(1)
    assert one, "fixture must produce neighbors"
    assert one == run(8) == run(64)


def test_blas_kernel_drops_invalid_and_releases(spark):
    # the matmul kernel's multiprobe IVF path keeps the validity contract
    # (null / empty vectors vanish) and the cache-release contract
    # (release on the outermost result reclaims the whole persisted chain)
    from webextract import cache

    rows = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.1]),
            (2, []), (3, None), (4, [0.9, 2.0, 3.0, 4.0])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cache.release_all()
    out = ann.ivf_topk(emb, k=2, n_cells=2, probes=2)
    got = out.collect()
    assert got, "clustered 4-dim fixture must yield neighbors"
    for r in got:
        assert r["q_id"] not in {2, 3} and r["neighbor_id"] not in {2, 3}
        assert r["cosine"] is not None
    cache.release(out)
    assert cache.release_all() == 0, "release(result) left frames cached"


def _py_join_compounds(text: str, comps: list[str]) -> tuple[str, int, int]:
    """Pure-Python twin of textstats.join_compounds (the determinism
    spec, SURVEY F13): space-doubled shadow + whole-word substring
    replacement, longest-syllable-count-first then list order."""
    c = " " + (text or "").replace(" ", "  ") + " "
    for comp in sorted(comps, key=lambda s: -len(s.split())):
        c = c.replace(" " + "  ".join(comp.split()) + " ",
                      " " + "_".join(comp.split()) + " ")
    toks = [t for t in c.split(" ") if t]
    return (" ".join(toks), len(toks),
            sum(1 for t in toks if "_" in t))


def test_join_compounds_longest_first_nested(spark):
    # nested dictionary entries: the 5-syllable motto must win over its
    # 4- and 2-syllable sub-compounds; a standalone "xã hội" elsewhere
    # still joins at its own tier
    text = ("cộng hòa xã hội chủ nghĩa việt nam độc lập tự do hạnh phúc "
            "và xã hội hiện đại")
    df = spark.createDataFrame([(text,)], "text string")
    row = textstats.segment_vi(df).collect()[0]
    toks = row["seg_text"].split(" ")
    assert "cộng_hòa_xã_hội_chủ_nghĩa" in toks
    assert "xã_hội" in toks  # the later standalone occurrence
    assert "việt_nam" in toks and "độc_lập" in toks
    assert row["n_compounds"] == int(row["n_compounds"])  # bigint col
    want = _py_join_compounds(text, textstats.VI_COMPOUNDS)
    assert (row["seg_text"], row["n_words"], row["n_compounds"]) == want


def test_join_compounds_matches_python_twin(spark):
    comps = ["a b c", "b c", "x y"]
    texts = [
        "a b c x y",        # longest-first: a_b_c wins over b_c
        "q a b c b c q",    # second b c still joins after a_b_c
        "x y x y",          # adjacent repeats both join
        "x  y",             # multi-space never matches (spec)
        "",                 # empty text
        "x y",              # exact full-string compound
        None,               # null → empty
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [(r["seg_text"], r["n_words"], r["n_compounds"])
           for r in textstats.join_compounds(df, compounds=comps).collect()]
    want = [_py_join_compounds(t, comps) for t in texts]
    assert got == want
    assert got[0][0] == "a_b_c x_y"
    assert got[1][0] == "q a_b_c b_c q"
    assert got[2][0] == "x_y x_y"
    assert got[3] == ("x y", 2, 0)


def test_canonical_url_spec(spark):
    from webextract import urls

    cases = {
        "https://Ex.ORG:443/Docs/Page/#frag": "https://ex.org/Docs/Page",
        "http://www.ex.org:80/a/b/?utm_source=x&b=2&a=1":
            "http://ex.org/a/b?a=1&b=2",
        "https://www.ex.org/": "https://ex.org",
        "https://ex.org/path?z=1&a=2&utm_campaign=c&":
            "https://ex.org/path?a=2&z=1",
        # non-http scheme: port kept (only scheme defaults are dropped)
        "ftp://Ex.org:80/X/": "ftp://ex.org:80/X",
        "https://ex.org": "https://ex.org",
        # path stays case-sensitive; :443 only stripped for https
        "http://ex.org:443/A": "http://ex.org:443/A",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r["url"]: r["canon_url"]
           for r in urls.with_canonical_url(df).collect()}
    assert got == cases


def test_canonical_url_collapses_variants(spark):
    from webextract import urls

    variants = [
        "https://ex.org/page/7?b=2&a=1",
        "https://EX.ORG:443/page/7?b=2&a=1#frag",
        "https://www.ex.org/page/7/?a=1&b=2&utm_source=f",
        "https://ex.org/page/7?a=1&utm_campaign=x&b=2",
    ]
    df = spark.createDataFrame([(u,) for u in variants], "url string")
    canon = {r["canon_url"]
             for r in urls.with_canonical_url(df).collect()}
    assert canon == {"https://ex.org/page/7?a=1&b=2"}


def test_dedup_paragraphs_first_occurrence_wins(spark):
    rows = [
        (1, "x\ny\nx\nz z z"),   # internal dup: second 'x' dropped
        (2, "y\nw w"),           # 'y' already owned by doc 1
        (3, "x\ny"),             # loses everything
        (4, ""),                 # no paragraphs at all
        (9, None),               # NULL text ≡ empty doc, never NULL counts
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["text"], r["n_paras"], r["n_paras_kept"])
           for r in dedup.dedup_paragraphs(df).collect()}
    assert got[1] == ("x\ny\nz z z", 4, 3)
    assert got[2] == ("w w", 2, 1)
    assert got[3] == ("", 2, 0)
    assert got[4] == ("", 0, 0)
    assert got[9] == ("", 0, 0)


def test_dedup_paragraphs_order_and_custom_sep(spark):
    # first occurrence is by (id, pos), not input row order; separator
    # is a literal (regex metachars must not leak into the split)
    rows = [(5, "b.a.c"), (2, "a.b")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r["text"]
           for r in dedup.dedup_paragraphs(df, sep=".").collect()}
    assert got[2] == "a.b"      # doc 2 owns both (lower id)
    assert got[5] == "c"        # 'b' and 'a' seen first in doc 2


def test_repetition_signals_known_values(spark):
    df = spark.createDataFrame(
        [(1, "x\ny\nx\nz z z"), (2, ""), (9, None)],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           textstats.repetition_signals(df, n_top=2, n_dup=2).collect()}
    r1 = out[1]
    # lines [x, y, x, 'z z z']: one repeated occurrence of 4; chars 1/8
    assert r1["n_lines"] == 4
    assert r1["dup_line_frac"] == pytest.approx(0.25)
    assert r1["dup_line_char_frac"] == pytest.approx(0.125)
    # tokens x y x z z z → 2-grams: 'x y','y x','x z','z z','z z'
    assert r1["top_gram"] == "z z"
    assert r1["top_gram_frac"] == pytest.approx(6 / 15)
    assert r1["dup_gram_frac"] == pytest.approx(6 / 15)
    for k in (2, 9):  # empty AND null docs: all-zero, never NULL
        r2 = out[k]
        assert (r2["n_lines"], r2["top_gram"]) == (0, "")
        assert r2["dup_line_frac"] == r2["top_gram_frac"] == 0.0


def test_gopher_quality_flags_rules(spark):
    good = " ".join(
        ["the quick brown fox jumps over the lazy dog again"] * 6)  # 60 words
    rows = [
        (1, good),                                  # passes every rule
        (2, "short the text"),                      # < 50 words
        (3, good + " " + " ".join(["###"] * 12)),   # symbol-heavy
        (4, "\n".join(["- item the list"] * 60)),   # bullet lines > 0.9
        # Unicode ellipsis '…' counts exactly like ASCII '...' (Rae 2021
        # A1 covers both spellings): line-final for the ellipsis gate,
        # anywhere for the symbol ratio
        (5, "\n".join(["the words trail off here…"] * 12)),
        (6, good + " " + " ".join(["…"] * 12)),     # symbol-heavy via '…'
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in
           textstats.gopher_quality_flags(df).collect()}
    assert got[1]["gopher_pass"] == 1
    assert got[1]["alpha_word_frac"] == 1.0 and got[1]["stop_hits"] >= 2
    assert got[2]["gopher_pass"] == 0
    assert got[3]["gopher_pass"] == 0
    assert got[3]["symbol_word_ratio"] > 0.1
    assert got[4]["gopher_pass"] == 0
    assert got[4]["bullet_line_frac"] == 1.0
    assert got[5]["ellipsis_line_frac"] == 1.0
    assert got[6]["symbol_word_ratio"] > 0.1 and got[6]["gopher_pass"] == 0


def test_scrub_pii_labels_and_order(spark):
    from webextract import pii
    rows = [
        (1, "mail bob.smith+x@ex-ample.org now"),
        (2, "server at 192.168.001.255 up"),
        (3, "call +1 555 0199 77 or 123456789"),
        (4, "digits inside user123@ex.com stay email, not phone"),
        (5, None),
        # full-run redaction (r4 advice): a 20-digit run is ONE phone
        # with no digit tail; a 5-octet dotted string is ONE ip with no
        # '.5' tail, and a 4th-octet digit tail is swallowed too
        (6, "acct 12345678901234567890 end"),
        (7, "ips 1.2.3.4.5 then 10.0.0.45678 done"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in pii.scrub_pii(df).collect()}
    assert got[1]["scrubbed_text"] == "mail <EMAIL> now"
    assert (got[1]["n_email"], got[1]["n_ip"], got[1]["n_phone"]) == (1, 0, 0)
    assert got[2]["scrubbed_text"] == "server at <IP> up"
    assert got[2]["n_ip"] == 1
    # two phone-shaped runs: separated digits and a bare 9-digit run
    assert got[3]["scrubbed_text"] == "call <PHONE> or <PHONE>"
    assert got[3]["n_phone"] == 2
    # sequential spec: the email is redacted BEFORE phone counting, so
    # its digits never count as a phone
    assert (got[4]["n_email"], got[4]["n_phone"]) == (1, 0)
    assert got[5]["scrubbed_text"] == ""  # null-safe
    assert got[6]["scrubbed_text"] == "acct <PHONE> end"
    assert got[6]["n_phone"] == 1
    assert got[7]["scrubbed_text"] == "ips <IP> then <IP> done"
    assert got[7]["n_ip"] == 2


def test_host_of_and_host_quota(spark):
    from webextract import urls
    rows = [(f"https://WWW.Big.org:443/p/{i:03d}",) for i in range(30)] + [
        ("https://small.org/x",), ("http://other.net:8080/y",), ("no-scheme",),
        ("https://alice:pw@Big.org:8443/z",),  # userinfo must not mint a host
    ]
    df = spark.createDataFrame(rows, "url string")
    hosts = {r["url"]: r["h"] for r in
             df.select("url", urls.host_of("url").alias("h")).collect()}
    assert hosts["https://WWW.Big.org:443/p/000"] == "big.org"
    assert hosts["http://other.net:8080/y"] == "other.net"  # non-default
    assert hosts["no-scheme"] == ""                         # port stripped
    assert hosts["https://alice:pw@Big.org:8443/z"] == "big.org"
    out = urls.host_quota(df, max_per_host=5).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r["url"])
    assert len(by_host["big.org"]) == 5
    # deterministic: the 5 lexicographically-smallest urls win
    assert sorted(by_host["big.org"]) == [
        f"https://WWW.Big.org:443/p/{i:03d}" for i in range(5)]
    assert by_host["small.org"] == ["https://small.org/x"]


def test_decontaminate_remove_and_flag(spark):
    docs = spark.createDataFrame([
        (1, "a b c d e f g h i j"),        # contains the benchmark 8-gram
        (2, "a b c d e f g X i j"),        # one token differs mid-gram
        (3, "z " * 3 + "a b c d e f g h"), # 8-gram at the tail
        (4, "short text"),                 # too short for any 8-gram
    ], "doc_id bigint, text string")
    bench = spark.createDataFrame(
        [("q q a b c d e f g h q q",), ("tiny",)], "text string")
    kept = {r["doc_id"]
            for r in dedup.decontaminate(docs, bench, n=8).collect()}
    assert kept == {2, 4}
    flags = {r["doc_id"]: r["contaminated"] for r in
             dedup.decontaminate(docs, bench, n=8, mode="flag").collect()}
    assert flags == {1: 1, 2: 0, 3: 1, 4: 0}
    with pytest.raises(ValueError):
        dedup.decontaminate(docs, bench, mode="bogus")


def test_scrub_pii_java_matches_python_re(spark):
    """Three regex dialects carry the PII spec (Python re in this
    test, Java regex in the Spark chain, RE2 in the DuckDB oracle).
    The oracle pins Spark-vs-RE2; this pins Spark(Java)-vs-Python over
    the adversarial corners (greedy backtracking on dotted digit runs,
    separators at caps, placeholder adjacency)."""
    import re

    from webextract import pii
    cases = [
        "a@b.cc1.2.3.4",                       # email backtracks off digits
        "abc@1.2.3.4x.com tail",               # digits-only domain + tld
        "abc@1.2.3.44",                        # no tld → ip pass takes it
        "1.2.3.412345678901234",               # whole dotted run → one ip
        "123456789012345678901234567",         # 27 digits → ONE phone (full run)
        "+1 555 0199 77 and +84-555-0199-77",  # separators mixed
        "999.999.999.999",                     # degenerate quad
        "x@y.zz a@b.c",                        # tld exactly 2 / too short
        "call 12345678",                       # 8 digits: below phone min
        "# 1.2.3.4.5.6.7.8 #",                 # 8 octets → one full-run ip
        ". . . 1 2 3 4 5 6 7 8 9 .",           # spaced digit run
        "user+tag%x._-@sub.do-main.org!",      # full local-part class
        "12345678901234567890",                # 20-digit run, no tail (r4)
        "a 1.2.3.4.5 b",                       # 5 octets, no '.5' tail (r4)
        "1234.5.6.7",                          # documented residual: '1<IP>'
        "", " ", "@", ".",
    ]
    def scrub_py(t):
        for _, p, r in pii.PII_PATTERNS:
            t = re.sub(p, r, t)
        return t
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "doc_id bigint, text string")
    got = {r["doc_id"]: r["scrubbed_text"]
           for r in pii.scrub_pii(df).collect()}
    for i, c in enumerate(cases):
        assert got[i] == scrub_py(c), (c, got[i], scrub_py(c))


def test_decontaminate_matches_across_line_breaks(spark):
    # an 8-gram split by newline/tab in the corpus must still match the
    # benchmark (whitespace is normalized on both sides)
    docs = spark.createDataFrame(
        [(1, "intro\na b c d\te f g h outro"), (2, "clean text here")],
        "doc_id bigint, text string")
    bench = spark.createDataFrame([("a b c d e f g h",)], "text string")
    flags = {r["doc_id"]: r["contaminated"] for r in
             dedup.decontaminate(docs, bench, n=8, mode="flag").collect()}
    assert flags == {1: 1, 2: 0}


def test_host_quota_exempts_unparseable_urls(spark):
    from webextract import urls
    rows = [("relative/path/1",), ("relative/path/2",), ("mailto:x@y.zz",),
            ("https://h.org/a",), ("https://h.org/b",)]
    df = spark.createDataFrame(rows, "url string")
    out = urls.host_quota(df, max_per_host=1).collect()
    kept = {r["url"] for r in out}
    # both real-host urls compete for ONE slot; all 3 unparseable pass
    assert kept == {"relative/path/1", "relative/path/2", "mailto:x@y.zz",
                    "https://h.org/a"}


def test_host_quota_duplicate_urls_count_once(spark):
    from webextract import urls
    rows = [("https://h.org/a", 1), ("https://h.org/a", 2),
            ("https://h.org/b", 3)]
    df = spark.createDataFrame(rows, "url string, snap int")
    out = urls.host_quota(df, max_per_host=1).collect()
    # the duplicate winning url keeps BOTH snapshots; /b loses
    assert sorted((r["url"], r["snap"]) for r in out) == [
        ("https://h.org/a", 1), ("https://h.org/a", 2)]


def _host_quota_reference(rows, cap):
    """Plain-Python host_quota over ``(url, host, tag)`` rows whose host
    is known by construction: per host the ``cap`` smallest distinct
    urls win, every row of a winning url stays, exempt ('' host) rows
    all pass."""
    won = set()
    for host in {h for _, h, _ in rows if h}:
        won |= set(sorted({u for u, h, _ in rows if h == host})[:cap])
    return sorted((u, h, t) for u, h, t in rows if not h or u in won)


def _host_quota_rows(df, cap):
    from webextract import urls
    return sorted((r["url"], r["host"], r["tag"]) for r in
                  urls.host_quota(df, max_per_host=cap).collect())


def test_host_quota_above_window_limit_threshold_matches_reference(spark):
    """A quota above ``windowGroupLimitThreshold`` plans no partial
    top-k: only the salt bounds the work, and the rows must still be
    exact."""
    import random

    cap = 1001
    threshold = int(spark.conf.get(
        "spark.sql.optimizer.windowGroupLimitThreshold"))
    assert cap > threshold
    rnd = random.Random(7)
    rows = [(f"https://big.org/p/{i:05d}", "big.org", f"b{i}")
            for i in range(2500)]
    rows += [rows[i][:2] + ("dup",) for i in (0, 999, 1000, 1001, 2400)]
    rows += [(f"https://s{k}.org/{i}", f"s{k}.org", "s")
             for k in range(3) for i in range(4)]
    rows += [(f"rel/{i}", "", "x") for i in range(5)] + [("rel/0", "", "y")]
    rnd.shuffle(rows)
    df = spark.createDataFrame([(u, t) for u, _, t in rows],
                               "url string, tag string")
    from webextract import urls
    plan = urls.host_quota(df, max_per_host=cap)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "WindowGroupLimit" not in plan, plan
    got = _host_quota_rows(df, cap)
    assert got == _host_quota_reference(rows, cap)
    assert sum(1 for _, h, _ in got if h == "big.org") == cap + 3


def test_host_quota_duplicates_over_partitions_match_reference(spark):
    """Duplicate quotable urls (winning and losing), duplicate exempt
    urls, and a host whose rows are spread over 8 input partitions."""
    rows = [(f"https://big.org/p/{i:03d}", "big.org", f"t{i}")
            for i in range(64)]
    rows += [(f"https://big.org/p/{i:03d}", "big.org", f"d{i}")
             for i in (0, 4, 5, 63)]
    rows += [("https://small.org/a", "small.org", "1"),
             ("https://small.org/a", "small.org", "2")]
    rows += [("no-scheme", "", "e1"), ("no-scheme", "", "e2"),
             ("mailto:x@y.zz", "", "e3")]
    df = spark.createDataFrame([(u, t) for u, _, t in rows],
                               "url string, tag string").repartition(8)
    spread = df.filter(F.col("url").startswith("https://big.org")) \
        .select(F.spark_partition_id()).distinct().count()
    assert spread == 8
    for cap in (1, 5):
        assert _host_quota_rows(df, cap) == _host_quota_reference(rows, cap)


def test_host_quota_rejects_empty_quota(spark):
    from webextract import urls
    df = spark.createDataFrame([("https://h.org/a",)], "url string")
    with pytest.raises(ValueError):
        urls.host_quota(df, max_per_host=0)


def test_normalize_nfc_reorders_and_composes(spark):
    """UAX #15 edge the oracle also pins: combining marks in the WRONG
    canonical order (U+0302 ccc=230 before U+0323 ccc=220) must be
    reordered THEN composed — 'e'+0302+0323 → ệ, not ế+0323 leftovers.
    NULL text normalizes to ''."""
    import unicodedata

    from webextract import textstats

    raw = "vie" + chr(0x302) + chr(0x323) + "t cafe" + chr(0x301)
    docs = spark.createDataFrame(
        [(0, raw), (1, "plain ascii"), (2, None)],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r["text_nfc"] for r in
           textstats.normalize_nfc(docs).collect()}
    assert got[0] == unicodedata.normalize("NFC", raw)
    assert got[0].startswith("việt")  # ệ: one composed code point
    assert got[1] == "plain ascii"
    assert got[2] == ""


def test_content_blocklist_token_semantics(spark):
    """Exact-token match, not substring: 'slowly' must NOT trip the
    'slow' entry; matches are case-insensitive; n_blockwords counts
    DISTINCT blocklist words (repeats collapse)."""
    from webextract import textstats

    docs = spark.createDataFrame(
        [(0, "Slow SLOW slow day"),   # one distinct word, thrice
         (1, "slowly moving"),        # substring only — no match
         (2, "spam and Slow stew"),   # two distinct words
         (3, None)],
        "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_blockwords"], r["blocked"]) for r in
           textstats.content_blocklist(docs, ["slow", "spam"]).collect()}
    assert got[0] == (1, 1)
    assert got[1] == (0, 0)
    assert got[2] == (2, 1)
    assert got[3] == (0, 0)


def test_host_split_is_host_disjoint_and_deterministic(spark):
    """Spelled variants of one host (WWW./port/userinfo) land on the
    SAME side (host_of canonicalizes before hashing); the split is
    deterministic across calls; scheme-less rows go to 'train'; a
    bigger test_frac only GROWS the test side (threshold is a prefix
    compare, so membership is monotone in the fraction)."""
    from webextract import urls

    rows = [(i, u) for i, u in enumerate(
        ["https://WWW.Big.org:443/a", "https://big.org/b",
         "https://user@big.org/c", "no-scheme-url"]
        + [f"https://host{j}.example.org/p" for j in range(40)])]
    docs = spark.createDataFrame(rows, "doc_id bigint, url string")

    out = urls.host_split(docs, test_frac=0.3).collect()
    by_id = {r["doc_id"]: r["split"] for r in out}
    assert len({by_id[0], by_id[1], by_id[2]}) == 1  # one host, one side
    assert by_id[3] == "train"
    assert set(by_id.values()) == {"train", "test"}  # 0.3 over 41 hosts

    again = {r["doc_id"]: r["split"]
             for r in urls.host_split(docs, test_frac=0.3).collect()}
    assert again == by_id

    wider = {r["doc_id"]: r["split"]
             for r in urls.host_split(docs, test_frac=0.6).collect()}
    assert all(wider[i] == "test" for i in by_id if by_id[i] == "test")


def test_host_split_full_test_fraction_boundary(spark):
    """test_frac=1.0 rounds to 65536 — not representable as a 4-hex
    string ('10000' would be a 5-char lexicographic trap assigning
    only ~6% to test) — and must short-circuit to ALL hosted rows
    'test'; frac=0.0 must yield all 'train'."""
    from webextract import urls

    rows = [(i, f"https://h{i}.example.org/p") for i in range(64)] \
        + [(64, "no-scheme")]
    docs = spark.createDataFrame(rows, "doc_id bigint, url string")
    all_test = {r["doc_id"]: r["split"]
                for r in urls.host_split(docs, test_frac=1.0).collect()}
    assert all(v == "test" for k, v in all_test.items() if k < 64)
    assert all_test[64] == "train"  # scheme-less stays conservative
    all_train = {r["split"] for r in
                 urls.host_split(docs, test_frac=0.0).collect()}
    assert all_train == {"train"}
