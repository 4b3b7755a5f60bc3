"""Extension-operator tests: text analysis, dedup family, similarity, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_auto_schema.io import read_table
from spark_auto_schema.ops import dedup, multimodal, similarity, text

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF_DIR, "embeddings").cache()


# ------------------------------------------------------------------- text
def test_text_stats_values(spark):
    df = spark.createDataFrame([(1, "ab cd! efg")], "doc_id long, text string")
    row = text.text_stats(df).collect()[0]
    assert row["n_chars"] == 10
    assert row["n_words"] == 3
    assert row["n_punct"] == 1
    assert row["avg_word_len"] == round(8 / 3, 4)


def test_token_count(spark):
    df = spark.createDataFrame([(1, "hello world, 42!")], "doc_id long, text string")
    row = text.token_count(df).collect()[0]
    assert row["ws_tokens"] == 3
    # helloworld -> 2 letter runs, '4','2' digits, ',' '!' punct
    assert row["bpe_tokens"] == 6


def test_language_id_deterministic(spark, docs):
    out1 = {r["doc_id"]: r["lang_pred"] for r in text.language_id(docs).collect()}
    out2 = {r["doc_id"]: r["lang_pred"] for r in text.language_id(docs).collect()}
    assert out1 == out2
    assert set(out1.values()) <= set(text.STOPWORDS)


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World 42"), (2, "hello world 42!!"), (3, "different")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_quality_score_range(spark, docs):
    vals = [r["quality"] for r in text.quality_score(docs).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


# ------------------------------------------------------------------ dedup
@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    clones = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    return docs.unionByName(clones)


def test_exact_dedup(spark, docs, docs_with_dups):
    base = docs.count()
    out = dedup.hash_dedup(docs_with_dups)
    assert out.count() == base  # 3 clones collapse onto originals
    assert out.where(F.col("dup_count") > 1).count() == 3
    # survivor is the min id (the original)
    assert out.where(F.col("dup_count") > 1).agg(
        F.max("keep_id")
    ).collect()[0][0] < 100000


def test_hash_dedup_matches_exact(spark, docs_with_dups):
    assert (
        dedup.hash_dedup(docs_with_dups).count()
        == docs_with_dups.groupBy("text").count().count()
    )


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = {r["shingle"] for r in dedup.shingles(df, n=3).collect()}
    assert got == {"a b c", "b c d"}


_NGRAM_EDGE_TEXTS = [
    None, "", " ", "  ", "a", "a b", "a b c", "a b c d e f g h i j",
    " lead", "trail ", "  both  ", "a  b", "a   b  c", "a\tb c", "x\ny z w",
    "é ü 北京 ß", "ab cd ab cd ab cd", "a a a a a a a a a",
]


@pytest.mark.parametrize("n", [1, 2, 3, 5, 8])
def test_word_ngrams_matches_lambda_form(spark, n):
    import random

    rng = random.Random(n)
    vocab = ["", "", "a", "bb", "cé", "d\te", "f\ng", "北"]
    rand = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_NGRAM_EDGE_TEXTS + rand)],
        "i long, text string",
    )
    # reference: the per-element lambda form the regex replaced
    words = F.split(F.col("text"), " ")
    ref = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    got = F.expr(dedup._word_ngrams("text", n))
    assert df.where(~got.eqNullSafe(ref)).count() == 0


def test_repetition_ratio_null_and_empty_text_is_zero(spark):
    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    got = {r["doc_id"]: r["rep_ratio"] for r in text.repetition_ratio(df).collect()}
    assert got == {1: 0.0, 2: 0.0}


def test_ngram_jaccard_finds_clones(spark, docs_with_dups):
    pairs = dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # each clone pairs with its original at jaccard 1.0
    assert {(i, i + 100000) for i in range(3)} <= got


@pytest.mark.parametrize("verify", [None, 0.5])
@pytest.mark.parametrize("engine", ["minhash_lsh_pairs", "minhash_lsh_pairs_md5"])
def test_lsh_pairs_under_budget_are_local_and_equal_the_lazy_path(
    spark, docs_with_dups, engine, verify, monkeypatch
):
    """A pair set under the driver budget comes back as a local frame:
    its rows equal the lazy path's (budget 0), and collecting it and
    clustering it start no Spark job."""
    lsh = getattr(dedup, engine)
    dedup.release_caches()
    pairs = lsh(docs_with_dups, verify_threshold=verify)
    assert pairs.isLocal()
    sc = spark.sparkContext
    sc.setJobGroup("sas-lsh-local-jobs", "local pair set job-count pin")
    try:
        local_rows = sorted(tuple(r) for r in pairs.collect())
        clusters = dedup.dedup_clusters(pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("sas-lsh-local-jobs") == []
    assert {(i, i + 100000) for i in range(3)} <= {r[:2] for r in local_rows}
    assert clusters
    dedup.release_caches()

    monkeypatch.setattr(dedup, "_DRIVER_CC_EDGE_BUDGET", 0)
    lazy = lsh(docs_with_dups, verify_threshold=verify)
    assert not lazy.isLocal()
    assert sorted(tuple(r) for r in lazy.collect()) == local_rows
    assert lazy.schema == pairs.schema
    dedup.release_caches()


@pytest.mark.parametrize("md5_grade", [False, True])
def test_signature_and_band_plans_cost_the_same_jvm_calls_at_any_width(
    spark, docs, md5_grade, monkeypatch
):
    """The signature aggregate and the band buckets are SQL text: building
    their plans makes as many JVM round trips at 64 hashes / 16 bands as
    at 16 / 4, so a Column per hash or band cannot come back."""
    import gc

    sh = dedup.shingles(docs)
    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    send = client.send_command

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    def build_calls(num_hashes, bands):
        dedup._band_buckets(  # warm: the first build may resolve JVM names
            dedup._minhash_sig(sh, num_hashes, md5_grade, with_set=True),
            num_hashes, bands, md5_grade,
        )
        calls[0] = 0
        dedup._band_buckets(
            dedup._minhash_sig(sh, num_hashes, md5_grade, with_set=True),
            num_hashes, bands, md5_grade,
        )
        return calls[0]

    monkeypatch.setattr(client, "send_command", counting)
    gc.disable()  # no finalizer round trip lands inside a count
    try:
        narrow, wide = build_calls(16, 4), build_calls(64, 16)
    finally:
        gc.enable()
    assert narrow > 0
    assert narrow == wide


@pytest.mark.parametrize("engine", ["minhash_lsh_pairs", "minhash_lsh_pairs_md5"])
def test_minhash_lsh_finds_clones(spark, docs_with_dups, engine):
    from spark_auto_schema import _cache

    lsh = getattr(dedup, engine)
    clones = {(i, i + 100000) for i in range(3)}
    dedup.release_caches()
    cand = lsh(docs_with_dups, verify_threshold=None)
    # without verify the caller is the candidates' only reader: the one
    # cached frame is the signatures, read by both sides of the band join
    assert [df.columns[:2] for df, _ in _cache._CACHED] == [["id", "h0"]]
    assert clones <= {(r["id_a"], r["id_b"]) for r in cand.collect()}
    dedup.release_caches()
    pairs = lsh(docs_with_dups, verify_threshold=0.9)
    # with verify the one cached frame is still the signature aggregate,
    # now carrying each doc's verify set: no shingle base, candidate set
    # or size frame is cached beside it
    assert len(_cache._CACHED) == 1
    (sig, _), = _cache._CACHED
    assert sig.columns[:2] == ["id", "h0"] and "set" in sig.columns
    assert clones <= {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    dedup.release_caches()


def test_ngram_jaccard_max_df_caps_hot_shingle(spark):
    # every doc shares the hot 3-gram "the same boilerplate"; only 1-2 are
    # real near-dups.  Uncapped, the hot shingle alone pairs ALL docs; with
    # max_df, those coincidental pairs vanish while the true clone survives.
    rows = [(i, f"the same boilerplate unique{i} tail{i} words{i}") for i in range(20)]
    rows.append((100, "the same boilerplate unique0 tail0 words0"))  # clone of 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.0, max_df=None)
    capped = dedup.ngram_jaccard_pairs(df, threshold=0.0, max_df=5)
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un >= 20 * 21 // 2  # hot shingle pairs everything
    assert n_cap < n_un
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert got.get((0, 100)) == 1.0  # true clone survives at full similarity
    # no coincidental pair survives: everything else shares only the capped gram
    assert all(p == (0, 100) for p in got)


def test_simhash_is_64_bit_with_16_bit_chunks(spark):
    assert dedup.SIMHASH_BITS == 64 and dedup.SIMHASH_CHUNKS == 4
    df = spark.createDataFrame(
        [(i, f"document number {i} with several distinct words {i*7}") for i in range(8)],
        "doc_id long, text string",
    )
    sigs = [r["simhash"] for r in dedup.simhash(df).collect()]
    # signatures use the full 64-bit space: some bit above 31 is set
    # (P[all high bits zero] = 2^-32 per doc)
    assert any(s < 0 or s >> 32 != 0 for s in sigs)
    md5_sigs = [r["simhash"] for r in dedup.simhash_md5(df).collect()]
    assert all(len(s) == 64 and set(s) <= {"0", "1"} for s in md5_sigs)


def test_simhash_identical_and_near(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely unrelated words entirely different content here now"),
        ],
        "doc_id long, text string",
    )
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert sigs[1] == sigs[2]
    pairs = dedup.simhash_near_dup_pairs(df, max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got
    # precomputed-signature reuse path yields the identical pair set
    reused = dedup.simhash_near_dup_pairs(df, max_hamming=0, sig=dedup.simhash(df))
    assert {(r["id_a"], r["id_b"]) for r in reused.collect()} == got


def _near_dup_corpus(spark):
    # 8 base texts of 40 words and 4 edits of each (1-4 words replaced):
    # edits land a few bits from their base, unrelated docs ~32 bits apart
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for b in range(8):
        words = [rng.choice(vocab) for _ in range(40)]
        rows.append((b * 10, " ".join(words)))
        for e in range(1, 5):
            edited = list(words)
            for _ in range(e):
                edited[rng.randrange(40)] = rng.choice(vocab)
            rows.append((b * 10 + e, " ".join(edited)))
    rows.append((99, rows[0][1]))  # an exact copy: hamming 0
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("md5_grade", [False, True], ids=["xxhash64", "md5"])
def test_simhash_pairs_equal_brute_force_hamming(spark, md5_grade):
    df = _near_dup_corpus(spark)
    if md5_grade:
        sig_fn, pair_fn = dedup.simhash_md5, dedup.simhash_md5_near_dup_pairs
    else:
        sig_fn, pair_fn = dedup.simhash, dedup.simhash_near_dup_pairs

    def bits(s):  # md5 grade: char i of the string is bit i
        return int(s[::-1], 2) if md5_grade else s & (2**64 - 1)

    sigs = {r["id"]: bits(r["simhash"]) for r in sig_fn(df).collect()}
    dist = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b
    }
    assert any(1 <= d <= 3 for d in dist.values())  # k > 0 is exercised
    for k in range(4):
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in pair_fn(df, max_hamming=k).collect()
        }
        assert got == {p: d for p, d in dist.items() if d <= k}


def test_simhash_pigeonhole_finds_pairs_equal_on_one_chunk(spark):
    # hamming 3 with one flipped bit in each of three chunks: the pair
    # agrees on chunk c only, for each c — every chunk's bucket must join
    def signed(v):
        return v - 2**64 if v >= 2**63 else v

    base = 0x9E3779B97F4A7C15
    rows = [(0, signed(base))]
    for c in range(dedup.SIMHASH_CHUNKS):
        flips = sum(1 << (16 * o + 5) for o in range(4) if o != c)
        rows.append((c + 1, signed(base ^ flips)))
    sig = spark.createDataFrame(rows, "id long, simhash long")
    pairs = dedup.simhash_near_dup_pairs(None, max_hamming=3, sig=sig)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    want = {(0, c): 3 for c in range(1, 5)}
    want.update({(c, d): 2 for c in range(1, 5) for d in range(c + 1, 5)})
    assert got == want


# -------------------------------------------------------------- similarity
def test_cosine_topk_matches_numpy(spark, emb):
    import numpy as np

    got = similarity.cosine_topk(emb, query_id=0, k=5).collect()
    data = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    q = data[0]
    sims = {
        i: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for i, v in data.items()
        if i != 0
    }
    expect = sorted(sims.items(), key=lambda kv: (-round(kv[1], 4), kv[0]))[:5]
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == [
        (i, round(s, 4)) for i, s in expect
    ]


def test_ann_lsh_recall(spark, emb):
    exact = {r["vec_id"] for r in similarity.cosine_topk(emb, 0, k=10).collect()}
    # these synthetic embeddings are weakly correlated (top cosine ~0.37), so
    # recall needs short signatures + many tables; deterministic via seed
    approx = {
        r["vec_id"]
        for r in similarity.ann_lsh_topk(
            emb, 0, k=10, num_planes=3, num_tables=6
        ).collect()
    }
    assert len(exact & approx) >= 5


def test_embedding_near_dup_pairs(spark, emb):
    clone = emb.limit(1).withColumn("vec_id", F.lit(99999).cast("long"))
    pairs = similarity.embedding_near_dup_pairs(emb.unionByName(clone), threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 99999) in got


# -------------------------------------------------------------- multimodal
def test_multimodal_fake_features(spark, docs):
    payloads = multimodal.attach_binary_payload(docs.limit(10))
    feats = multimodal.extract_media_features(payloads, fake=True)
    rows = feats.collect()
    assert len(rows) == 10
    for r in rows:
        assert sum(r["byte_hist"]) == r["n_bytes"]
        assert len(r["byte_hist"]) == multimodal.FEATURE_BINS
    # metadata struct carries byte length
    m = payloads.select("media_meta.n_bytes").collect()[0][0]
    assert m > 0


def test_multimodal_real_decode_is_stubbed(spark, docs):
    payloads = multimodal.attach_binary_payload(docs.limit(1))
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        multimodal.extract_media_features(payloads, fake=False).collect()


def test_multimodal_codec_seam_injection(spark, docs):
    """The documented codec seam: injecting a replacement extractor (the
    shape a PIL/ffmpeg-backed decoder would have) must flow end-to-end
    through the real Arrow mapInPandas plumbing — no NotImplementedError
    even with fake=False, and the injected codec's values come back intact.
    The seam is an explicit argument captured into the task closure because
    monkeypatching the module attribute would not survive the
    executor-side re-import."""
    import pandas as pd

    def codec_like(pdf, fake):
        # simulated "real decode": first byte of the payload in hist slot 0
        n = [len(bytes(p)) for p in pdf["payload"]]
        first = [bytes(p)[0] if len(bytes(p)) else -1 for p in pdf["payload"]]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n,
                "byte_hist": [
                    [f] + [0] * (multimodal.FEATURE_BINS - 1) for f in first
                ],
            }
        )

    payloads = multimodal.attach_binary_payload(docs.limit(10))
    rows = multimodal.extract_media_features(
        payloads, fake=False, extractor=codec_like
    ).collect()
    assert len(rows) == 10
    raw = {r["doc_id"]: bytes(r["payload"]) for r in payloads.collect()}
    for r in rows:
        assert r["n_bytes"] == len(raw[r["doc_id"]])
        assert r["byte_hist"][0] == raw[r["doc_id"]][0]
        assert len(r["byte_hist"]) == multimodal.FEATURE_BINS


def test_frame_sample_stub(spark, docs):
    payloads = multimodal.attach_binary_payload(docs.limit(2))
    frames = multimodal.frame_sample_stub(payloads, every_n_bytes=16, max_frames=4)
    rows = frames.collect()
    assert {r["doc_id"] for r in rows} == {0, 1}
    assert all(1 <= len(r["frame_bytes"]) <= 16 for r in rows)
    assert max(r["frame_idx"] for r in rows) <= 3


# ------------------------------------------------------- cleaning / safety
def test_clean_text_strips_urls_and_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "see https://example.com/a?b=1   for   details")],
        "doc_id long, text string",
    )
    row = text.clean_text(df).collect()[0]
    assert row["clean_text"] == "see for details"


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail bob@example.com or call +1 (555) 123-4567 now")],
        "doc_id long, text string",
    )
    row = text.redact_pii(df).collect()[0]
    assert "<EMAIL>" in row["redacted"]
    assert "<PHONE>" in row["redacted"]
    assert "bob@example.com" not in row["redacted"]
    assert row["n_emails"] == 1
    assert row["n_phones"] == 1


def test_pii_density_rollup_law(spark):
    """Per-source counts equal the hand-computed sums; a clean source
    reports zero density; docs-with-pii counts documents, not matches."""
    df = spark.createDataFrame(
        [
            (1, "a", "mail bob@example.com and sue@example.com today"),
            (2, "a", "call +1 (555) 123-4567 now"),
            (3, "a", "nothing here"),
            (4, "b", "clean text only"),
        ],
        "doc_id long, source string, text string",
    )
    got = {r["grp"]: r for r in text.pii_density(df).collect()}
    a = got["a"]
    assert (a["n_docs"], a["n_docs_with_pii"]) == (3, 2)
    assert (a["n_emails"], a["n_phones"]) == (2, 1)
    chars = sum(len(t) for t in
                ("mail bob@example.com and sue@example.com today",
                 "call +1 (555) 123-4567 now", "nothing here"))
    assert a["pii_per_kchar"] == round(1000.0 * 3 / chars, 6)
    b = got["b"]
    assert (b["n_docs_with_pii"], b["n_emails"], b["n_phones"],
            b["pii_per_kchar"]) == (0, 0, 0, 0.0)


def test_repetition_ratio_bounds(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c a b c"),  # highly repetitive 3-grams
            (2, "one two three four five six seven"),  # all distinct
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["rep_ratio"] for r in text.repetition_ratio(df).collect()}
    assert got[2] == 0.0
    assert got[1] > 0.5


def test_contamination_check_finds_probe_overlap(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "completely unrelated content with different words"),
            (2, "another text containing the quick brown fox too"),
            (3, "no overlap here at all whatsoever friends"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_shared"] for r in
           dedup.contamination_check(df, probe_ids=[0], n=3).collect()}
    assert 2 in got and got[2] >= 1  # shares "the quick brown" + "quick brown fox"
    assert 3 not in got
    assert 0 not in got  # probes excluded


def test_simhash_md5_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely unrelated words entirely different content here now"),
        ],
        "doc_id long, text string",
    )
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash_md5(df).collect()}
    assert sigs[1] == sigs[2]
    assert len(sigs[1]) == dedup.SIMHASH_BITS and set(sigs[1]) <= {"0", "1"}
    pairs = dedup.simhash_md5_near_dup_pairs(df, max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got


def test_dedup_clusters_transitive_and_disjoint(spark):
    # A~B, B~C chain -> {1,2,3} labeled 1; disjoint pair {7,9} labeled 7
    pairs = spark.createDataFrame(
        [(2, 3, 0.9), (1, 2, 0.95), (7, 9, 0.85)],
        "id_a long, id_b long, jaccard double",
    )
    got = {r["id"]: r["cluster_id"] for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    dedup.release_caches()


def test_dedup_clusters_of_local_pairs_runs_no_spark_job(spark):
    """A pair set under the driver budget is one bounded collect, and the
    labels come back as a local relation: a driver-built pair set is
    clustered and read without launching a Spark job."""
    from pyspark.sql import types as T

    from spark_auto_schema.io import local_df

    schema = T.StructType(
        [T.StructField("id_a", T.LongType()), T.StructField("id_b", T.LongType())]
    )
    pairs = local_df(spark, [(2, 3), (1, 2), (7, 9)], schema)
    sc = spark.sparkContext
    sc.setJobGroup("sas-cluster-jobs", "local clustering job-count pin")
    try:
        got = {r["id"]: r["cluster_id"] for r in dedup.dedup_clusters(pairs).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("sas-cluster-jobs") == []
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_dedup_clusters_recovers_clone_groups(spark, docs_with_dups):
    # each planted clone pairs with its original -> 2-doc clusters whose
    # representative is the original (min id)
    pairs = dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.999)
    got = {r["id"]: r["cluster_id"] for r in dedup.dedup_clusters(pairs).collect()}
    for i in range(3):
        assert got[i + 100000] == got[i] == i
    dedup.release_caches()


def test_chunk_documents_windows_and_reassembly(spark):
    words = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, words), (2, "short doc")], "doc_id long, text string")
    chunks = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in text.chunk_documents(df, chunk_tokens=10, overlap=0).collect()
    }
    # zero overlap: chunks partition the token stream exactly
    doc1 = [chunks[(1, i)][0] for i in range(10)]
    assert " ".join(doc1) == words
    assert all(chunks[(1, i)][1] == 10 for i in range(10))
    assert chunks[(2, 0)] == ("short doc", 2)

    # with overlap, consecutive windows share `overlap` tokens
    ov = {
        r["chunk_id"]: r["chunk_text"].split(" ")
        for r in text.chunk_documents(
            df.where(F.col("doc_id") == 1), chunk_tokens=10, overlap=4
        ).collect()
    }
    assert ov[0][6:] == ov[1][:4]
    with pytest.raises(ValueError):
        text.chunk_documents(df, chunk_tokens=8, overlap=8)


def test_label_centroids_match_numpy(spark, emb):
    import numpy as np

    got = {
        r["label"]: (np.array(r["centroid"]), r["n_vectors"])
        for r in similarity.label_centroids(emb).collect()
    }
    rows = emb.collect()
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            np.array(r["embedding"], dtype=np.float64)
        )
    for lbl, vecs in by_label.items():
        cent, n = got[lbl]
        assert n == len(vecs)
        expect = np.round(np.mean(np.stack(vecs), axis=0), 6)
        assert np.allclose(cent, expect, atol=1e-6)


# ------------------------------------------------- gopher quality filter
def test_gopher_filter_rules(spark):
    long_doc = " ".join(["the word here fits fine"] * 10)  # 50 words, stopwords
    short_doc = "too short"
    no_stop = " ".join(["zxqj klmn pqrs tuvw xyzw"] * 8)  # 40 words, 0 stopwords
    digits = " ".join(["1234 5678 the 9012 3456"] * 8)  # alpha frac 1/5
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, no_stop), (4, digits)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.gopher_quality_filter(df).collect()}
    assert out[1]["keep"]
    assert not out[2]["wordcount_ok"] and not out[2]["keep"]
    assert out[3]["wordcount_ok"] and not out[3]["stop_ok"] and not out[3]["keep"]
    assert not out[4]["alpha_ok"] and not out[4]["keep"]


def test_unigram_logprob_hand_computed(spark):
    import math

    # corpus: "a a b" + "a c" -> counts a:3 b:1 c:1, N=5 V=3
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.unigram_logprob(df).collect()}
    lp = lambda c: math.log((c + 1) / (5 + 3))
    assert out[1]["n_tokens"] == 3
    assert out[1]["avg_logprob"] == round((2 * lp(3) + lp(1)) / 3, 4)
    assert out[2]["avg_logprob"] == round((lp(3) + lp(1)) / 2, 4)


# ------------------------------------------------- embedding quantization
def test_quantize_roundtrip_error_bounded(spark, emb):
    out = similarity.quantize_embeddings(emb).collect()
    assert len(out) == emb.count()
    dim = len(out[0]["codes"])
    for r in out[:20]:
        assert len(r["codes"]) == dim
        assert all(0 <= c <= 255 for c in r["codes"])
    # max per-dim error is span/(2*255); spans here are O(1), so mean err
    # must be well under 0.01 for unit-ish embedding values
    assert max(r["mean_abs_err"] for r in out) < 0.01


def test_quantize_constant_dim_is_zero_code(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in similarity.quantize_embeddings(df).collect()}
    # dim 0 is constant -> code 0, zero error contribution
    assert out[1]["codes"][0] == 0 and out[2]["codes"][0] == 0
    assert out[1]["codes"][1] == 0 and out[2]["codes"][1] == 255


# ------------------------------------------------------------- k-means
def test_kmeans_separable_clusters(spark):
    pts = [(i, [0.0 + i * 0.01, 0.0]) for i in range(10)] + [
        (100 + i, [10.0 + i * 0.01, 10.0]) for i in range(10)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents, assigned, _ = similarity.kmeans_lloyd(df, k=2, iters=5)
    groups = {
        r["cluster"]: set()
        for r in assigned.select("cluster").distinct().collect()
    }
    for r in assigned.collect():
        groups[r["cluster"]].add(r["vec_id"])
    assert len(groups) == 2
    assert {frozenset(range(10)), frozenset(range(100, 110))} == set(
        frozenset(v) for v in groups.values()
    )


def test_kmeans_inertia_monotone(spark, emb):
    c2, _, hist = similarity.kmeans_lloyd(emb, k=4, iters=2)
    assert hist == sorted(hist, reverse=True)  # Lloyd never increases inertia
    i2 = similarity.kmeans_inertia(emb, c2)
    assert i2 <= hist[0]


# --------------------------------------------- centroid assignment paths
def _hash_sample_cents(emb, k):
    init = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k)
        .collect()
    )
    return [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(init)]


def test_assign_nearest_paths_bit_identical(spark, emb, monkeypatch):
    """LAW: the plan-literal argmin and the broadcast-join argmin are the
    same function — bit-identical (cluster, score) per id for BOTH
    metrics, because both paths build the identical score arithmetic
    (same dot/norm fold order; the join path's precomputed per-side
    norms are the same expressions evaluated once).  This is what lets
    _LITERAL_ASSIGN_NODE_BUDGET be a pure performance knob with no
    semantic surface."""
    cents = _hash_sample_cents(emb, 12)
    sub = emb.limit(120)
    for metric in ("cos", "l2"):
        lit = sorted(
            (
                r.asDict()
                for r in similarity._assign_nearest(
                    sub, cents, "embedding", "vec_id", metric=metric
                ).collect()
            ),
            key=lambda r: r["vec_id"],
        )
        monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_NODE_BUDGET", 0)
        join = sorted(
            (
                r.asDict()
                for r in similarity._assign_nearest(
                    sub, cents, "embedding", "vec_id", metric=metric
                ).collect()
            ),
            key=lambda r: r["vec_id"],
        )
        monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_NODE_BUDGET", 8192)
        assert len(lit) == 120 and lit == join, metric


def test_assign_nearest_cutover_plan_shape(spark, emb):
    """PLAN PIN for the cutover: within the literal-node budget
    (len(cents) * (d+1) expression nodes) the assignment plan has no join
    node of any kind; above it the plan is a BroadcastNestedLoopJoin (a
    hard broadcast on the k-row centroid frame — bounded by construction,
    k is a model parameter clamped at 2^16 by suggest_nlist) feeding one
    hash aggregate, never a CartesianProduct, and its size is O(1) in k
    (the round-12 verdict's literal-ceiling finding: nlist=2^16 at d=768
    would otherwise bake ~50M literal nodes into the plan, and the
    measured driver cost of literal analysis is ~49 s at 65k nodes)."""
    small = _hash_sample_cents(emb, 8)  # 8 * 65 = 520 nodes, within budget
    plan_small = (
        similarity._assign_nearest(emb, small, "embedding", "vec_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan_small and "Exchange" not in plan_small

    # 200 centroids * 65 nodes at d=64 = 13000 nodes > the 8192 budget
    dim = 64
    big = [
        (i, [float(i)] + [0.0] * (dim - 1)) for i in range(200)
    ]
    df = spark.createDataFrame(
        [(j, [j + 0.25] + [0.0] * (dim - 1)) for j in range(40)],
        "vec_id long, embedding array<double>",
    )
    jdf = similarity._assign_nearest(df, big, "embedding", "vec_id", metric="l2")
    plan_big = jdf._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan_big
    assert "CartesianProduct" not in plan_big
    # plan stays k-independent: the 200 centroids live in a LocalTableScan
    # relation, not in the expression tree
    assert plan_big.count("cvec") < 20
    # and the join path is CORRECT above the cutover without monkeypatching:
    # point j sits 0.25 right of centroid j, so argmin-L2 assigns cluster j
    got = {r["vec_id"]: r["cluster"] for r in jdf.collect()}
    assert got == {j: j for j in range(40)}


def test_semantic_dedup_same_verdicts_through_join_path(spark, emb, monkeypatch):
    """semantic_dedup reaches identical keep/drop verdicts whichever
    assignment path runs — the driver query semantic_dedup_scaled stays
    green if a corpus ever pushes suggest_nlist past the cutover."""
    base = {
        (r["vec_id"], r["cluster"], r["kept"])
        for r in similarity.semantic_dedup(emb, threshold=0.3, nlist=8).collect()
    }
    monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_NODE_BUDGET", 0)
    forced = {
        (r["vec_id"], r["cluster"], r["kept"])
        for r in similarity.semantic_dedup(emb, threshold=0.3, nlist=8).collect()
    }
    similarity.release_caches()
    assert base == forced


# ------------------------------------------------- vocab coverage / tf-idf
def test_vocab_coverage_fractions(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "z z z z")], "doc_id long, text string"
    )
    # corpus counts: a:2 b:2 z:4 c:1 -> top-2 vocab (count desc, term asc) = a? no:
    # z:4, then a:2/b:2 tie -> 'a' wins alphabetically; vocab = {z, a}
    out = {r["doc_id"]: r for r in text.vocab_coverage(df, vocab_size=2).collect()}
    assert out[1]["n_covered"] == 2 and out[1]["coverage"] == round(2 / 3, 4)
    assert out[2]["n_covered"] == 0
    assert out[3]["coverage"] == 1.0


def test_tfidf_pairs_find_clones(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "one two three four five six seven")],
        "doc_id long, text string",
    )
    # 3 docs: max_df_frac must admit df=2 terms or the clones' shared
    # trigrams are capped away (the cap is corpus-fraction-relative)
    pairs = {
        (r["id_a"], r["id_b"]): r["tfidf_sim"]
        for r in text.tfidf_top_pairs(df, threshold=0.2, max_df_frac=0.7).collect()
    }
    assert pairs.get((1, 2)) == 1.0  # identical docs -> cosine exactly 1
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_tfidf_hot_term_cap_drops_ubiquitous_terms(spark):
    # every doc shares the same trigram; with max_df_frac=0.5 the term is
    # dropped and no pairs survive
    df = spark.createDataFrame(
        [(i, "same three words") for i in range(4)], "doc_id long, text string"
    )
    assert text.tfidf_top_pairs(df, threshold=0.0).count() == 0


def test_repeated_ngram_coverage_flags_shared_spans(spark):
    shared = "0123456789" * 5  # 50 chars, repeated across docs 1 and 2
    df = spark.createDataFrame(
        [
            (1, shared + " unique tail one for doc"),
            (2, "other prefix here " + shared),
            (3, "entirely different text with no long repeats at all anywhere"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.repeated_ngram_coverage(df, gram_chars=40).collect()}
    assert out[1]["n_dup_grams"] > 0 and out[2]["n_dup_grams"] > 0
    assert out[3]["n_dup_grams"] == 0 and out[3]["dup_frac"] == 0.0
    for r in out.values():
        assert r["n_grams"] >= 1


def test_media_resize_stride_decimation(spark, docs):
    from spark_auto_schema.ops import multimodal

    payloads = multimodal.attach_binary_payload(docs)
    out = {r["doc_id"]: r for r in
           multimodal.resize_media_stub(payloads, target_bytes=8, fake=True).collect()}
    src = {r["doc_id"]: r["text"].encode() for r in docs.collect()}
    for doc_id, data in src.items():
        r = out[doc_id]
        n = len(data)
        m = min(8, n)
        s = max(n // m, 1) if n else 1
        assert r["orig_bytes"] == n and r["new_bytes"] == m
        assert bytes(r["resized"]) == data[::s][:m]


def test_media_resize_requires_fake_or_resizer(spark, docs):
    import pytest as _pytest

    from spark_auto_schema.ops import multimodal

    payloads = multimodal.attach_binary_payload(docs)
    with _pytest.raises(Exception):
        multimodal.resize_media_stub(payloads, fake=False).collect()


def test_media_resize_seam_injection(spark, docs):
    """Injected resizer replaces the stub wholesale (same seam contract
    as extract_media_features)."""
    import pandas as pd

    from spark_auto_schema.ops import multimodal

    def crop(pdf, target_bytes, fake):
        rows = [(i, len(bytes(p)), min(target_bytes, len(bytes(p))),
                 bytes(p)[:target_bytes])
                for i, p in zip(pdf["doc_id"], pdf["payload"])]
        return pd.DataFrame(rows, columns=["doc_id", "orig_bytes",
                                           "new_bytes", "resized"])

    payloads = multimodal.attach_binary_payload(docs)
    out = multimodal.resize_media_stub(
        payloads, target_bytes=4, fake=False, resizer=crop
    ).collect()
    src = {r["doc_id"]: r["text"].encode() for r in docs.collect()}
    assert all(bytes(r["resized"]) == src[r["doc_id"]][:4] for r in out)


# ------------------------------------------------------------- SemDeDup
def test_semantic_dedup_drops_planted_clone(spark, emb):
    """An exact clone of vector 0 lands in vector 0's cluster (identical
    cosine scores, identical tie-break) and must be dropped in favour of
    the lower id; vector 0 itself survives."""
    clone = emb.limit(1).withColumn("vec_id", F.lit(99999).cast("long"))
    out = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in similarity.semantic_dedup(
            emb.unionByName(clone), threshold=0.999, nlist=8
        ).collect()
    }
    assert len(out) == emb.count() + 1
    assert out[99999][0] == out[0][0]
    assert out[0][1] is True and out[99999][1] is False


def test_semantic_dedup_min_id_per_cluster_survives(spark, emb):
    """The drop rule (lower-id neighbour exists) can never drop a cluster's
    smallest id, at any threshold."""
    rows = similarity.semantic_dedup(emb, threshold=0.2, nlist=8).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for members in by_cluster.values():
        lowest = min(members, key=lambda r: r["vec_id"])
        assert lowest["kept"] is True


def test_semantic_dedup_unreachable_threshold_keeps_all(spark, emb):
    rows = similarity.semantic_dedup(emb, threshold=1.01, nlist=8).collect()
    assert all(r["kept"] for r in rows)
    assert len(rows) == emb.count()


def test_semantic_dedup_pair_space_is_equi_join(spark, emb):
    """The cluster-local pair join must be a hash/sort equi-join on the
    cluster id — never a cartesian/broadcast-nested-loop pair blowup."""
    plan = similarity.semantic_dedup(emb, threshold=0.3, nlist=8)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_single_cluster_equals_brute_force(spark, emb):
    """nlist=1 degenerates to the global all-pairs rule: a vector is
    dropped iff ANY lower-id vector has cosine >= threshold — the blocked
    path must lose nothing when the blocking is trivial."""
    import numpy as np

    sub = emb.where(F.col("vec_id") < 60)
    rows = similarity.semantic_dedup(sub, threshold=0.3, nlist=1).collect()
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in sub.collect()
    }
    ids = sorted(vecs)
    expect_dropped = set()
    for i, b in enumerate(ids):
        for a in ids[:i]:
            cos = float(vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))
            if round(cos, 4) >= 0.3:
                expect_dropped.add(b)
                break
    got_dropped = {r["vec_id"] for r in rows if not r["kept"]}
    assert got_dropped == expect_dropped


def test_semantic_dedup_accepts_trained_centroids(spark, emb):
    """The kmeans_lloyd -> semantic_dedup composition: trained centroids
    replace the hash sample, clusters follow the trained quantizer, and
    the planted clone is still caught."""
    cents, _, _ = similarity.kmeans_lloyd(emb, k=4, iters=2)
    clone = emb.limit(1).withColumn("vec_id", F.lit(99999).cast("long"))
    rows = similarity.semantic_dedup(
        emb.unionByName(clone), threshold=0.999, cents=cents
    ).collect()
    out = {r["vec_id"]: (r["cluster"], r["kept"]) for r in rows}
    assert set(r["cluster"] for r in rows) <= {c for c, _ in cents}
    assert out[99999][0] == out[0][0]
    assert out[0][1] is True and out[99999][1] is False


def test_incremental_semantic_dedup_drops_corpus_clones_keeps_novel(spark, emb):
    """A batch containing an exact clone of a corpus vector loses it; a
    batch-internal duplicate pair is NOT judged (one concern per op)."""
    corpus = emb.where(F.col("vec_id") < 400)
    novel = emb.where(F.col("vec_id") >= 490).withColumn(
        "vec_id", F.col("vec_id") + 10000
    )
    clone = corpus.limit(1).withColumn("vec_id", F.lit(99999).cast("long"))
    batch = novel.unionByName(clone).unionByName(
        novel.withColumn("vec_id", F.col("vec_id") + 50000)  # internal dup
    )
    out = {r["vec_id"] for r in similarity.incremental_semantic_dedup(
        batch, corpus, threshold=0.999, nlist=8
    ).collect()}
    assert 99999 not in out  # corpus clone rejected
    # novel rows and their batch-internal twins both survive (not judged)
    assert all(10490 + i in out and 60490 + i in out for i in range(2))


def test_semantic_dedup_partitioning_invariance(spark, emb):
    """Same corpus under a different physical partitioning must produce
    the identical keep/drop set — the determinism contract every dedup
    operator in this package carries."""
    base = {
        (r["vec_id"], r["cluster"], r["kept"])
        for r in similarity.semantic_dedup(emb, threshold=0.3, nlist=8).collect()
    }
    shuffled = {
        (r["vec_id"], r["cluster"], r["kept"])
        for r in similarity.semantic_dedup(
            emb.repartition(7), threshold=0.3, nlist=8
        ).collect()
    }
    assert base == shuffled


def test_remove_boilerplate_deletes_from_all_docs_unlike_segment_dedup(spark):
    """The semantic split between the two segment operators: a segment in
    3 docs is removed from ALL THREE here, while segment_dedup keeps the
    first occurrence."""
    boiler = " ".join(f"b{i}" for i in range(8))
    rows = [
        (1, boiler + " " + " ".join(f"u1x{i}" for i in range(8))),
        (2, boiler + " " + " ".join(f"u2x{i}" for i in range(8))),
        (3, boiler + " " + " ".join(f"u3x{i}" for i in range(8))),
        (4, " ".join(f"u4x{i}" for i in range(8))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.remove_boilerplate(df, min_df=3).collect()}
    for d in (1, 2, 3):
        assert out[d]["n_kept"] == 1 and "b0" not in out[d]["clean_text"]
    assert out[4]["n_kept"] == 1  # unique doc untouched
    sd = {r["doc_id"]: r for r in dedup.segment_dedup(df).collect()}
    assert "b0" in sd[1]["clean_text"]  # first occurrence survives there


def test_remove_boilerplate_threshold_boundary(spark):
    """min_df is inclusive: a segment in exactly min_df docs is removed;
    one below survives everywhere."""
    seg2 = " ".join(f"s{i}" for i in range(8))
    rows = [(1, seg2), (2, seg2), (3, "only once " + " ".join("w%d" % i for i in range(6)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    at = {r["doc_id"]: r["n_kept"] for r in dedup.remove_boilerplate(df, min_df=2).collect()}
    assert at[1] == 0 and at[2] == 0 and at[3] == 1
    below = {r["doc_id"]: r["n_kept"] for r in dedup.remove_boilerplate(df, min_df=3).collect()}
    assert below[1] == 1 and below[2] == 1


# --------------------------------------------------------- containment_pairs
def test_containment_catches_subset_jaccard_misses(spark):
    """A short document quoted verbatim inside a much longer one:
    containment ~ 1.0 while Jaccard is diluted by the union — the pair
    must clear a 0.9 containment threshold and fail a 0.5 Jaccard one.
    Orientation: the smaller shingle set is id_small."""
    quote = " ".join(f"q{i}" for i in range(10))
    article = " ".join(f"w{i}" for i in range(80)) + " " + quote
    d = spark.createDataFrame(
        [(1, article), (2, quote)], "doc_id long, text string"
    )
    got = dedup.containment_pairs(d, threshold=0.9, hashed=True).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_small"], r["id_large"]) == (2, 1)
    assert r["containment"] == 1.0
    jac = dedup.ngram_jaccard_pairs(d, threshold=0.5)
    assert jac.count() == 0


def test_containment_threshold_filters(spark):
    """Disjoint documents never pair; half-overlapping ones score the
    exact shared-shingle fraction of the smaller set."""
    a = " ".join(f"a{i}" for i in range(12))
    b = " ".join(f"b{i}" for i in range(12))
    d = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    assert dedup.containment_pairs(d, threshold=0.1).count() == 0


# ------------------------------------------------------------------ jl_project
def test_jl_project_deterministic_and_shape(spark):
    """The projection is a pure function of (data, seed): two runs over
    different partitionings agree exactly; output is |rows| x out_dim."""
    e = read_table(spark, SF_DIR, "embeddings").limit(50)
    p1 = {(r["id"], r["j"]): r["y"] for r in similarity.jl_project(e, out_dim=8).collect()}
    p2 = {
        (r["id"], r["j"]): r["y"]
        for r in similarity.jl_project(e.repartition(5), out_dim=8).collect()
    }
    assert p1 == p2
    assert len(p1) == 50 * 8


def test_jl_project_preserves_norm_in_aggregate(spark):
    """E[||y||^2] = ||x||^2 for the +-1/sqrt(k) construction; with unit
    vectors and k=16 the per-vector ratio is noisy but the corpus MEAN
    concentrates — assert it lands within 20% of 1.  (Deterministic: the
    sign matrix is hash-derived, so this can never flake.)"""
    e = read_table(spark, SF_DIR, "embeddings")
    proj = similarity.jl_project(e, out_dim=16)
    mean_sq = (
        proj.groupBy("id")
        .agg(F.sum(F.col("y") * F.col("y")).alias("nsq"))
        .agg(F.avg("nsq"))
        .collect()[0][0]
    )
    assert 0.8 <= mean_sq <= 1.2  # source embeddings are unit-norm


def test_jl_signs_engine_independent(spark):
    """The sign matrix depends only on (seed, j, i) via md5 — spot-check a
    few entries against hand-computed hashes and the +1 fraction ~ 1/2."""
    import hashlib

    signs = similarity.jl_signs(8, 64)
    for j, i in [(0, 0), (3, 17), (7, 63)]:
        expect = 1.0 if hashlib.md5(f"jl0:{j}:{i}".encode()).hexdigest()[0] < "8" else -1.0
        assert signs[j][i] == expect
    flat = [s for row in signs for s in row]
    assert 0.4 <= sum(1 for s in flat if s > 0) / len(flat) <= 0.6


# ------------------------------------------------------------ bigram_logprob
def test_bigram_logprob_flags_shuffled_sequences(spark):
    """Word-salad detection: a document whose BIGRAMS are novel must score
    below documents built from the corpus's repeated bigrams, even though
    all unigrams are identical — the signal unigram_logprob cannot see.
    Documents with fewer than two tokens produce no pairs and are absent."""
    common = "the cat sat on the mat"
    docs = [(i, common) for i in range(1, 9)]
    docs.append((9, "mat the on sat cat the"))  # same words, shuffled
    docs.append((10, "solo"))                   # 1 token: no pairs
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.bigram_logprob(d).collect()}
    assert 10 not in out
    assert out[9]["n_pairs"] == 5
    assert out[9]["avg_bigram_logprob"] < out[1]["avg_bigram_logprob"]
    # unigram scoring cannot separate them (identical token multisets)
    uni = {r["doc_id"]: r["avg_logprob"] for r in text.unigram_logprob(d).collect()}
    assert uni[9] == uni[1]


# -------------------------------------------------------------- token_entropy
def test_token_entropy_uniform_and_degenerate(spark):
    """A group with k equiprobable tokens scores ln(k); a single-token
    group scores exactly 0 (the collapse signal the monitor exists for)."""
    import math

    df = spark.createDataFrame(
        [
            ("uniform", "a b c d"),
            ("collapsed", "x x x x"),
        ],
        "source string, text string",
    )
    rows = {r["grp"]: r for r in text.token_entropy(df).collect()}
    assert rows["uniform"]["entropy"] == round(math.log(4), 4)
    assert rows["uniform"]["n_tokens"] == 4
    assert rows["uniform"]["vocab_size"] == 4
    assert rows["collapsed"]["entropy"] == 0.0
    assert rows["collapsed"]["vocab_size"] == 1


def test_token_entropy_matches_direct_formula(spark):
    """The single-pass identity ln N - sum(c ln c)/N equals the textbook
    -sum(p ln p) on a skewed distribution."""
    import math

    toks = ["a"] * 5 + ["b"] * 3 + ["c"] * 2
    df = spark.createDataFrame([("g", " ".join(toks))], "source string, text string")
    r = text.token_entropy(df).collect()[0]
    expected = -sum(c / 10 * math.log(c / 10) for c in (5, 3, 2))
    assert r["entropy"] == round(expected, 4)
    assert r["n_tokens"] == 10
    assert r["vocab_size"] == 3


def test_bloom_incremental_dedup_exact_under_any_filter_quality(spark):
    """The bloom prune NEVER changes the answer — only the work: results
    equal incremental_exact_dedup under a good filter, a saturated 8-bit
    filter (everything bloom-positive), and a precomputed corpus_bits.
    NULL texts on both sides: a NULL text is the empty content, so the
    corpus's NULL removes the batch's NULL group like any other clone."""
    from spark_auto_schema.ops import dedup

    batch = spark.createDataFrame(
        [(10, "aa"), (11, "bb"), (12, "bb"), (13, "cc"), (14, "dd"),
         (15, None), (16, None)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "bb"), (2, "dd"), (3, "ee"), (4, None)], "doc_id long, text string"
    )

    def rows(df):  # by keep_id: a NULL content_hash does not sort against str
        return sorted(map(tuple, df.collect()), key=lambda r: r[1])

    want = rows(dedup.incremental_exact_dedup(batch, corpus))
    got = rows(dedup.bloom_incremental_dedup(batch, corpus))
    assert got == want and [k for _, k in want] == [10, 13]

    # saturated filter: num_bits=8 forces false positives; verify restores
    tiny = rows(dedup.bloom_incremental_dedup(batch, corpus, num_bits=8))
    assert tiny == want

    bits = dedup.bloom_bitset(corpus)
    pre = rows(dedup.bloom_incremental_dedup(batch, corpus, corpus_bits=bits))
    assert pre == want


def test_bloom_bitset_bounded_and_prune_effective(spark):
    """The bit-set relation is bounded by num_bits regardless of corpus
    size, and a disjoint batch is fully pruned (no false negatives by
    construction; here also zero bloom-positives)."""
    from pyspark.sql import functions as F

    from spark_auto_schema.ops import dedup

    corpus = spark.range(500).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("c"), F.col("id")).alias("text")
    )
    bits = dedup.bloom_bitset(corpus, num_bits=64)
    assert bits.count() <= 64

    # big filter, disjoint batch: every batch row must survive (novel)
    batch = spark.range(50).select(
        (F.col("id") + 1000).alias("doc_id"),
        F.concat(F.lit("b"), F.col("id")).alias("text"),
    )
    out = dedup.bloom_incremental_dedup(batch, corpus)
    assert out.count() == 50


def test_bm25_topk_ranking_laws(spark):
    """More query-term occurrences rank higher at equal length; the rare
    term outweighs the common one; non-matching docs never appear."""
    from spark_auto_schema.ops import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "rare x x x x x"),
            (2, "common x x x x x"),
            (3, "common common x x x x"),
            (4, "x x x x x x"),
            (5, "common x x x x x"),
        ],
        "doc_id long, text string",
    )
    rows = text_ops.bm25_topk(docs, ["rare", "common"], topk=10).collect()
    ids = [r["doc_id"] for r in rows]
    assert 4 not in ids and len(ids) == 4
    score = {r["doc_id"]: r["bm25"] for r in rows}
    assert score[3] > score[2]  # tf saturation still increases
    assert score[1] > score[2]  # df=1 term beats df=3 term
    assert score[2] == score[5]  # identical docs tie exactly
    assert ids[0] in (1, 3) and rows[0]["bm25"] == max(score.values())


def test_rrf_fuse_semantics(spark):
    """Consensus beats single-list heads: an id surfaced mid-rank by BOTH
    retrievers outranks an id topping only one; rank, not score scale,
    drives the fusion; malformed inputs raise."""
    import pytest

    from spark_auto_schema.ops import similarity

    # list A scores in [0,1], list B in [0,1e6]: RRF must not care
    a = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.7)], "vec_id long, s double"
    )
    b = spark.createDataFrame(
        [(4, 900000.0), (2, 800000.0), (5, 700000.0)], "vec_id long, s double"
    )
    rows = similarity.rrf_fuse([a, b], topk=5).collect()
    score = {r["vec_id"]: r["rrf"] for r in rows}
    lists = {r["vec_id"]: r["n_lists"] for r in rows}
    assert lists[2] == 2 and lists[1] == 1
    # id 2 is rank-2 in both lists: 2/(60+2) > 1/(60+1) of either head
    assert score[2] == max(score.values())
    assert rows[0]["vec_id"] == 2

    # heads of each list tie exactly (same rank, one list each): id breaks
    assert score[1] == score[4]
    ordered = [r["vec_id"] for r in rows]
    assert ordered.index(1) < ordered.index(4)

    with pytest.raises(ValueError):
        similarity.rrf_fuse(
            [a.withColumn("extra", a["s"])], topk=3
        )


def test_cdc_chunks_resynchronize_after_edit(spark):
    """The CDC property fixed-size chunking lacks: prepending a token to a
    document changes only the chunks BEFORE the next boundary — every
    later chunk hash reappears unchanged (dedups against the original)."""
    from pyspark.sql import functions as F

    from spark_auto_schema.ops import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta " * 8
    orig = spark.createDataFrame([(1, base.strip())], "doc_id long, text string")
    edited = spark.createDataFrame(
        [(2, ("inserted " + base).strip())], "doc_id long, text string"
    )
    both = orig.unionByName(edited)
    ch = dedup.cdc_chunks(both)
    o = {r["chunk_hash"] for r in ch.where(F.col("doc_id") == 1).collect()}
    e = {r["chunk_hash"] for r in ch.where(F.col("doc_id") == 2).collect()}
    # all but the first (perturbed) chunk re-synchronize
    assert len(o & e) >= len(o) - 1 > 0

    # determinism + coverage: chunk token counts sum to the token count
    n_tok = len(base.strip().split(" "))
    got = (
        ch.where(F.col("doc_id") == 1)
        .agg(F.sum("n_tokens").alias("s"))
        .collect()[0]["s"]
    )
    assert got == n_tok


def test_cdc_dedup_stats_on_duplicated_corpus(spark):
    """A corpus of two identical docs dedups to ~half the distinct chunks;
    stats agree with recomputing from cdc_chunks directly."""
    from spark_auto_schema.ops import dedup

    text = "one two three four five six seven eight nine ten " * 5
    df = spark.createDataFrame(
        [(1, text.strip()), (2, text.strip())], "doc_id long, text string"
    )
    (s,) = dedup.cdc_dedup_stats(df).collect()
    ch = dedup.cdc_chunks(df)
    assert s["n_chunks"] == ch.count()
    assert s["n_distinct"] == ch.select("chunk_hash").distinct().count()
    assert s["n_distinct"] * 2 == s["n_chunks"]  # exact clone halves
    assert abs(s["dup_ratio"] - 0.5) < 1e-9


def test_cooccurrence_pmi_semantics(spark):
    """Terms that always appear together get positive PMI; terms that
    never co-occur are absent; PMI matches the hand formula; sub-vocab
    terms never enter the pair space."""
    import math

    from spark_auto_schema.ops import text as text_ops

    # x and y always together (4 docs); z alone (4 docs); 'rare' below floor
    docs = spark.createDataFrame(
        [(i, "x y filler") for i in range(4)]
        + [(10 + i, "z filler rare") for i in range(2)]
        + [(20 + i, "z filler") for i in range(2)],
        "doc_id long, text string",
    )
    rows = text_ops.cooccurrence_pmi(docs, min_count=4, min_pair_docs=2).collect()
    pairs = {(r["term_a"], r["term_b"]): r for r in rows}
    assert ("x", "y") in pairs
    r = pairs[("x", "y")]
    # N=8, n_xy=4, n_x=n_y=4 -> pmi = ln(8*4/16) = ln 2
    assert abs(r["pmi"] - round(math.log(2), 4)) < 1e-9 and r["n_docs"] == 4
    assert not any("z" in p and ("x" in p or "y" in p) for p in pairs)
    assert not any("rare" in p for p in pairs)  # below the vocab floor
    # filler co-occurs with everything: PMI ~ 0 against x (ln(8*4/(8*4)))
    assert abs(pairs[("filler", "x")]["pmi"] - 0.0) < 1e-9


def test_write_text_lines_enforces_line_per_row(spark, tmp_path):
    """CR/LF in text is sanitized to spaces and NULL text becomes the
    empty line, so read-back line count always equals the row count —
    the invariant text_roundtrip's aggregate contract relies on."""
    from spark_auto_schema.io import load_file, write_text_lines

    docs = spark.createDataFrame(
        [(1, "one\ntwo"), (2, None), (3, "plain"), (4, "cr\rlf\nmix")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "txt")
    write_text_lines(docs, "text", out)
    lines = sorted(r["value"] for r in load_file(spark, out, fmt="text").collect())
    assert lines == ["", "cr lf mix", "one two", "plain"]


# ------------------------------------------------ round-8 operators
def test_normalize_text_known_folds(spark):
    """Fullwidth ASCII, curly quotes, dashes, ellipsis, ligatures,
    Unicode spaces and invisibles all fold to their ASCII forms."""
    df = spark.createDataFrame(
        [
            (1, "Ｈｉ　there"),          # fullwidth Hi + ideographic space
            (2, "“q” ‘s’ —dash…"),
            (3, "ﬁne ﬂow"),
            (4, "a​b­c﻿d"),           # invisibles deleted
            (5, "  spaced  out  "),
            (6, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text_norm"] for r in text.normalize_text(df).collect()}
    assert got[1] == "Hi there"
    assert got[2] == "\"q\" 's' -dash..."
    assert got[3] == "fine flow"
    assert got[4] == "abcd"
    assert got[5] == "spaced out"
    assert got[6] == ""


def test_normalize_text_idempotent_property(spark):
    """normalize(normalize(x)) == normalize(x) over strings drawn from
    every fold class — the law that makes the fold table a projection."""
    import random

    rng = random.Random(8)
    alphabet = (
        list(text._NFKC_FROM)
        + list("abc XYZ 09 .!?-'\"")
        + ["​", "﻿", "­", "…", "ﬁ", "ﬂ", "\t", "\n"]
    )
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = text.normalize_text(df).select(
        "doc_id", F.col("text_norm").alias("text")
    )
    twice = text.normalize_text(once).collect()
    for r in twice:
        assert r["text_norm"] == r["text"], repr((r["text"], r["text_norm"]))


def test_normalize_text_is_narrow_projection(spark, docs):
    """No exchange: the fold chain pipelines inside the scan."""
    plan = text.normalize_text(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_canonicalize_urls_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, "HTTPS://WWW.Sub.Example.CO.UK:443/Docs/A/?utm_source=x&b=2&a=1#f"),
            (2, "http://example.com/page"),
            (3, "example.org"),                       # no scheme
            (4, "https://host/x?utm_campaign=z"),     # single-label host
            (5, "http://www.gov.uk"),                 # fewer labels than suffix+1
            (6, None),
        ],
        "id long, url string",
    )
    got = {r["id"]: r for r in text.canonicalize_urls(df).collect()}
    assert got[1]["host"] == "sub.example.co.uk"
    assert got[1]["registered_domain"] == "example.co.uk"
    assert got[1]["url_canon"] == "sub.example.co.uk/Docs/A?a=1&b=2"
    assert got[2]["url_canon"] == "example.com/page"
    assert got[3]["registered_domain"] == "example.org"
    assert got[4]["registered_domain"] == "host"
    assert got[4]["url_canon"] == "host/x"
    # gov.uk with no third label stays its own registered domain
    assert got[5]["registered_domain"] == "gov.uk"
    assert got[6]["url_canon"] == ""


def test_canonicalize_urls_psl_edge_cases(spark):
    """The widened public-suffix data (round-8 verdict): ccTLD
    second-level registries, US state + k12 three-level suffixes
    (longest suffix wins), PSL private-section hosts (each subdomain an
    independent registrant), and the suffixes= injection parameter for
    production PSL ingestion."""
    cases = [
        # (host, expected registered_domain)
        ("shop.taobao.com.cn", "taobao.com.cn"),
        ("news.naver.co.kr", "naver.co.kr"),
        ("tienda.algo.com.mx", "algo.com.mx"),
        ("a.b.co.jp", "b.co.jp"),
        ("portal.gob.mx", "portal.gob.mx"),       # gob.mx needs 3 labels
        ("foo.github.io", "foo.github.io"),        # private: subdomain = site
        ("bar.github.io", "bar.github.io"),
        ("github.io", "github.io"),                # bare suffix = itself
        ("me.blogspot.com", "me.blogspot.com"),
        ("x.herokuapp.com", "x.herokuapp.com"),
        ("school.k12.ca.us", "school.k12.ca.us"),  # bare 3-level+1... 4 labels
        ("www2.school.k12.ca.us", "school.k12.ca.us"),  # longest suffix wins
        ("city.ca.us", "city.ca.us"),              # state 2-level suffix
        ("a.city.ca.us", "city.ca.us"),
        ("lib.tx.us", "lib.tx.us"),                # 3 labels < 4: falls to tx.us rule
        ("deep.a.b.example.com", "example.com"),
        ("example.com", "example.com"),
        ("localhost", "localhost"),
    ]
    df = spark.createDataFrame(
        [(i, f"https://{h}/p") for i, (h, _) in enumerate(cases)],
        "id long, url string",
    )
    got = {r["id"]: r["registered_domain"]
           for r in text.canonicalize_urls(df).collect()}
    for i, (host, want) in enumerate(cases):
        assert got[i] == want, f"{host}: got {got[i]}, want {want}"
    # suffixes= injection: a caller-supplied PSL replaces the module data
    inj = text.canonicalize_urls(
        spark.createDataFrame(
            [(1, "https://a.b.custom.tld/"), (2, "https://x.github.io/")],
            "id long, url string",
        ),
        suffixes=["custom.tld"],
    ).collect()
    by_id = {r["id"]: r["registered_domain"] for r in inj}
    assert by_id[1] == "b.custom.tld"
    # github.io is NOT in the injected list, so the generic 2-label rule
    assert by_id[2] == "github.io"


def test_canonicalize_urls_idempotent_on_canonical_form(spark):
    """Re-canonicalizing url_canon is a fixed point: host/domain/canon
    survive a second pass unchanged."""
    df = spark.createDataFrame(
        [(1, "HTTPS://WWW.A.B.co.uk:8080/p/?utm_x=1&z=2&utm_source=t#y")],
        "id long, url string",
    )
    first = text.canonicalize_urls(df).select(
        "id", F.col("url_canon").alias("url"), "host", "registered_domain"
    )
    second = text.canonicalize_urls(
        first.select("id", "url")
    ).collect()[0]
    base = first.collect()[0]
    assert second["host"] == base["host"]
    assert second["registered_domain"] == base["registered_domain"]
    assert second["url_canon"] == base["url"]


def test_token_window_dup_coverage_run_law(spark):
    """A planted shared block of m tokens yields a duplicated run of
    exactly m - k + 1 windows in both carriers (run r certifies a shared
    substring of >= k + r - 1 tokens); unique docs report zeros."""
    shared = " ".join(f"s{i}" for i in range(12))  # m = 12
    df = spark.createDataFrame(
        [
            (1, "u1 u2 " + shared + " u3"),
            (2, shared + " v1 v2 v3 v4"),
            (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in dedup.token_window_dup_coverage(df, k=8).collect()
    }
    assert got[1]["max_dup_run"] == 5 and got[2]["max_dup_run"] == 5  # 12-8+1
    assert got[1]["n_dup_windows"] == 5 and got[2]["n_dup_windows"] == 5
    assert got[3]["n_dup_windows"] == 0 and got[3]["max_dup_run"] == 0
    # short doc: one whole-text window
    short = spark.createDataFrame([(9, "just three words")], "doc_id long, text string")
    (s,) = dedup.token_window_dup_coverage(short, k=8).collect()
    assert s["n_windows"] == 1 and s["dup_frac"] == 0.0


def test_tokenizer_fertility_arithmetic(spark):
    """Counts and ratios follow the ceil(len/4) charge exactly."""
    df = spark.createDataFrame(
        [("a", "abcd ab abcdefgh"), ("a", ""), ("b", "xyz")],
        "source string, text string",
    )
    got = {r["grp"]: r for r in text.tokenizer_fertility(df).collect()}
    a = got["a"]
    # words: abcd(1) ab(1) abcdefgh(2) -> 4 bpe tokens over 3 ws tokens
    assert (a["n_docs"], a["n_ws_tokens"], a["n_bpe_tokens"]) == (2, 3, 4)
    assert a["n_bytes"] == 16 and a["n_chars"] == 16
    assert abs(a["fertility"] - 4 / 3) < 1e-6
    b = got["b"]
    assert (b["n_ws_tokens"], b["n_bpe_tokens"]) == (1, 1)
    assert b["bytes_per_token"] == 3.0


def test_topic_shares_partition_laws(spark, emb):
    """Shares sum to 1, counts sum to the corpus, ranks are a permutation,
    and the assignment is deterministic across runs."""
    out1 = similarity.topic_shares(emb, nlist=8).collect()
    out2 = similarity.topic_shares(emb, nlist=8).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    total_rows = emb.count()
    assert sum(r["n_vecs"] for r in out1) == total_rows
    assert abs(sum(r["share"] for r in out1) - 1.0) < 1e-4
    assert sorted(r["share_rank"] for r in out1) == list(range(1, len(out1) + 1))
    for r in out1:
        assert abs(r["balance_ratio"] - r["share"] * 8) < 1e-5


def test_top_repeated_substrings_finds_planted_block(spark):
    """A block syndicated into 3 docs tops the list with the exact gram
    text, occurrence count 3, doc count 3; nothing below min_docs leaks."""
    block = " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame(
        [
            (1, "x1 " + block),
            (2, block + " y1 y2"),
            (3, "z1 z2 " + block),
            (4, "only unique tokens here q w e r t y u i"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.top_repeated_substrings(df, k=8, top=5).collect()
    assert len(rows) == 1
    assert rows[0]["gram"] == block
    assert rows[0]["n_occurrences"] == 3 and rows[0]["n_docs"] == 3


def test_cross_source_duplication_shares(spark):
    """Distinct-content semantics: internal re-posts count once; shares
    are relative to each side's distinct contents."""
    df = spark.createDataFrame(
        [
            (1, "shared one", "a"),
            (2, "shared one", "a"),   # internal re-post: counts once
            (3, "a only", "a"),
            (4, "shared one", "b"),
            (5, "b only", "b"),
            (6, "b second", "b"),
            (7, "c only", "c"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {(r["source_a"], r["source_b"]): r
            for r in dedup.cross_source_duplication(df).collect()}
    assert set(rows) == {("a", "b")}
    r = rows[("a", "b")]
    assert r["n_shared"] == 1
    assert abs(r["share_of_a"] - 1 / 2) < 1e-6   # a has 2 distinct contents
    assert abs(r["share_of_b"] - 1 / 3) < 1e-6   # b has 3


def test_zipf_slope_known_distributions(spark):
    """An exact Zipf corpus (freq = 60/rank) fits slope -1; a flat
    corpus (all terms equally frequent) fits slope 0."""
    zipf_rows = []
    for rank, term in enumerate(["t1", "t2", "t3", "t4", "t5"], start=1):
        zipf_rows.extend((i, term) for i in range(60 // rank))
    df = spark.createDataFrame(
        [("z", " ".join(t for _, t in zipf_rows))]
        + [("f", "u1 u2 u3 u4 u1 u2 u3 u4")],
        "source string, text string",
    )
    got = {r["grp"]: r for r in text.zipf_slope(df).collect()}
    assert got["f"]["zipf_slope"] == 0.0
    assert abs(got["z"]["zipf_slope"] + 1.0) < 0.02  # 60/rank rounds exactly
    assert got["z"]["n_terms"] == 5


def test_lang_confusion_matrix_laws(spark, docs):
    """Row shares sum to 1 per truth label; cell counts reconcile with
    language_id's per-doc predictions exactly."""
    from collections import Counter

    rows = text.lang_confusion(docs).collect()
    by_truth = {}
    for r in rows:
        by_truth.setdefault(r["lang_true"], []).append(r)
    for grp in by_truth.values():
        assert abs(sum(r["row_frac"] for r in grp) - 1.0) < 1e-4
    truth = {
        r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()
    }
    pred = {
        r["doc_id"]: r["lang_pred"] for r in text.language_id(docs).collect()
    }
    expected = Counter((truth[i], pred[i]) for i in truth)
    got = {(r["lang_true"], r["lang_pred"]): r["n"] for r in rows}
    assert got == dict(expected)


def test_dedup_loss_by_source_survivorship(spark):
    """Keep-lowest-id accounting: internal re-posts lose to self, a
    mirror loses everything to others, the originating source loses
    nothing."""
    df = spark.createDataFrame(
        [
            (1, "alpha", "a"),
            (2, "alpha", "a"),    # internal re-post: a loses 1 to itself
            (3, "beta", "a"),
            (10, "alpha", "m"),   # mirror copies: lose to a
            (11, "beta", "m"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in dedup.dedup_loss_by_source(df).collect()}
    a, m = got["a"], got["m"]
    assert (a["n_docs"], a["n_kept"], a["n_dropped"], a["n_lost_to_other"]) == (3, 2, 1, 0)
    assert (m["n_docs"], m["n_kept"], m["n_dropped"], m["n_lost_to_other"]) == (2, 0, 2, 2)
    assert m["loss_frac"] == 1.0 and abs(a["loss_frac"] - 1 / 3) < 1e-6


def test_lm_kl_divergence_laws(spark):
    """KL is ~0 for a source distributed like the corpus, positive for a
    skewed one, and matches a brute-force |vocab|-sum reference computed
    in Python on the same smoothed models."""
    import math
    from collections import Counter, defaultdict

    rows = [
        (1, "even", " ".join(["x y z w"] * 10)),
        (2, "even", " ".join(["x y z w"] * 10)),
        (3, "skew", " ".join(["x"] * 12)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["grp"]: r for r in text.lm_kl_divergence(df).collect()}

    toks = [(s, w) for _, s, t in rows for w in t.split()]
    cc = Counter(w for _, w in toks)
    v, n = len(cc), sum(cc.values())
    per = defaultdict(Counter)
    for s, w in toks:
        per[s][w] += 1

    def brute(s):
        cs = per[s]
        d = sum(cs.values()) + v
        return sum(
            ((cs.get(w, 0) + 1) / d)
            * math.log(((cs.get(w, 0) + 1) / d) / ((cc[w] + 1) / (n + v)))
            for w in cc
        )

    for s in per:
        assert got[s]["kl_nats"] == round(brute(s), 4), s
        assert got[s]["n_tokens"] == sum(per[s].values())
        assert got[s]["vocab_seen"] == len(per[s])
    assert got["skew"]["kl_nats"] > got["even"]["kl_nats"] >= 0.0


def test_retrieval_recall_eval_laws(spark):
    """Probing every cluster makes IVF search exhaustive, so recall@k
    must be exactly 1.0 for every query; with a restricted probe set
    recall stays in [0, 1] and n_hits/k always equals recall."""
    from spark_auto_schema.ops import similarity

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    full = {
        r["qid"]: r
        for r in similarity.retrieval_recall_eval(
            df, query_ids=[0, 1, 2], k=5, nlist=4, nprobe=4
        ).collect()
    }
    assert set(full) == {0, 1, 2}
    for r in full.values():
        assert r["n_hits"] == 5 and r["recall_at_k"] == 1.0
    part = similarity.retrieval_recall_eval(
        df, query_ids=[0, 1, 2], k=5, nlist=4, nprobe=1
    ).collect()
    for r in part:
        assert 0 <= r["n_hits"] <= 5
        assert r["recall_at_k"] == round(r["n_hits"] / 5.0, 6)


def test_paragraph_minhash_finds_shared_paragraph(spark):
    """Two long documents sharing ONE verbatim 8-word block (doc-level
    Jaccard tiny) must surface as a doc pair with max_jaccard 1.0; a
    document with no shared segment stays absent."""
    from spark_auto_schema.ops import dedup

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    a = " ".join(f"a{i}" for i in range(24)) + " " + shared
    b = shared + " " + " ".join(f"b{i}" for i in range(24))
    c = " ".join(f"c{i}" for i in range(32))
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    got = dedup.paragraph_minhash_pairs(df).collect()
    dedup.release_caches()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in got}
    # doc-level sanity: the pair is invisible at document granularity
    doc_level = dedup.minhash_lsh_pairs_md5(df, verify_threshold=0.8).collect()
    dedup.release_caches()
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["max_jaccard"] == 1.0
    assert all(3 not in k for k in pairs)
    assert not doc_level, "doc-level MinHash should miss the partial overlap"


def test_lsh_s_curve_contract_pins_operating_point(spark):
    """p_detect is monotone in s; at the standard threshold
    s* = (1/b)^(1/r) the closed form gives exactly 1 - (1 - 1/b)^b; and
    the engine's defaults detect a planted pair above the threshold."""
    from spark_auto_schema.ops import dedup

    rows = dedup.lsh_s_curve(spark, num_hashes=16, bands=4).collect()
    curve = sorted((r["s"], r["p_detect"]) for r in rows)
    ps = [p for _, p in curve]
    assert all(a <= b for a, b in zip(ps, ps[1:]))  # monotone
    s_star = rows[0]["s_star"]
    assert s_star == round((1 / 4) ** (1 / 4), 6)
    p_at_star = 1 - (1 - 0.25) ** 4  # 1 - (1 - 1/b)^b
    below = max(p for s, p in curve if s < s_star)
    above = min(p for s, p in curve if s > s_star)
    assert below < p_at_star < above
    # empirical tie-in: a pair above the crossover is caught by the engine
    base = " ".join(f"w{i}" for i in range(30))
    near = base + " extra"
    df = spark.createDataFrame(
        [(1, base), (2, near)], "doc_id long, text string"
    )
    pairs = dedup.minhash_lsh_pairs_md5(df, verify_threshold=0.8).collect()
    dedup.release_caches()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_canonicalize_urls_rejects_unsupported_psl_rules(spark):
    """Wildcard/exception/4+-label PSL rules raise (silently dropping one
    would mis-bucket every host it governs); comments and blanks are
    ignored; 1-label rules fold into the generic fallback."""
    import pytest

    df = spark.createDataFrame([(1, "https://a.b.example.com/")],
                               "id long, url string")
    for bad in (["*.ck"], ["!www.ck"], ["a.b.c.d"]):
        with pytest.raises(ValueError, match="unsupported public-suffix"):
            text.canonicalize_urls(df, suffixes=bad)
    ok = text.canonicalize_urls(
        df, suffixes=["// a comment", "", "com", "example.com"]
    ).collect()[0]
    assert ok["registered_domain"] == "b.example.com"


_GUARD_CALLS = {
    "retrieval_recall_eval": dict(k=2, nlist=2, nprobe=2),
    "ivf_nprobe_sweep": dict(nprobes=(1, 2), k=2, nlist=2),
    "lsh_recall_eval": dict(k=2, num_planes=2, num_tables=2, dim=2),
    "quantized_recall_eval": dict(k=2),
}


@pytest.mark.parametrize(
    "qid,diagnosis",
    [
        (99, "not present in the corpus — fix query_ids"),
        (6, "has a NULL embedding — cosine is undefined for it"),
        (7, "has a zero-norm embedding — cosine is undefined for it"),
    ],
    ids=["absent", "null", "zero_norm"],
)
@pytest.mark.parametrize("fn", sorted(_GUARD_CALLS))
def test_recall_eval_panel_guard_names_the_bad_query_id(spark, fn, qid, diagnosis):
    """Every recall evaluator fails loudly on a bad panel id instead of
    silently shrinking the panel (review finding, round 9), and the
    message tells the three failure modes apart: an id absent from the
    corpus, a NULL embedding, a zero-norm embedding."""
    import re

    df = spark.createDataFrame(
        [(i, [float(i + 1), 1.0]) for i in range(6)]
        + [(6, None), (7, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(
        Exception, match=re.escape(f"{fn}: query id {qid} {diagnosis}")
    ):
        getattr(similarity, fn)(
            df, query_ids=[0, qid], **_GUARD_CALLS[fn]
        ).collect()
    similarity.release_caches()


def test_zero_norm_corpus_vector_ranks_last_not_raises(spark):
    """A zero-norm vector that is not a query has no cosine with anything:
    it must rank last in the exact, IVF and recall-eval searches, not fail
    them with an ANSI DIVIDE_BY_ZERO.  Each call returns the rows it
    returns on the corpus without that vector.  Its id is picked so its
    md5 sorts after every other id's, keeping it out of the IVF centroid
    sample (which would rightly change the lists)."""
    import hashlib

    def md5(i):
        return hashlib.md5(str(i).encode()).hexdigest()

    clean = spark.createDataFrame(
        [(i, [float(i + 1), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    zid = next(z for z in range(100, 1000) if md5(z) > max(map(md5, range(6))))
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(zid, [0.0, 0.0])], "vec_id long, embedding array<double>"
        )
    )
    calls = [
        lambda df: similarity.cosine_topk(df, query_id=0, k=3),
        lambda df: similarity.ivf_topk(df, query_id=0, k=3, nlist=2, nprobe=2),
        lambda df: similarity.retrieval_recall_eval(
            df, query_ids=[0, 3], k=2, nlist=2, nprobe=2
        ),
    ]
    for call in calls:
        want = sorted(tuple(r) for r in call(clean).collect())
        got = sorted(tuple(r) for r in call(dirty).collect())
        similarity.release_caches()
        assert want and got == want


def test_paragraph_minhash_handles_string_and_colon_ids(spark):
    """Doc ids that are strings — even containing ':' — survive the
    segment-id round-trip (review finding: a bare cast-to-long NULLed
    them and silently dropped every pair)."""
    from spark_auto_schema.ops import dedup

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    a = " ".join(f"a{i}" for i in range(24)) + " " + shared
    b = shared + " " + " ".join(f"b{i}" for i in range(24))
    df = spark.createDataFrame(
        [("urn:doc:1", a), ("urn:doc:2", b)], "doc_id string, text string"
    )
    got = dedup.paragraph_minhash_pairs(df).collect()
    dedup.release_caches()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [("urn:doc:1", "urn:doc:2")]


def test_lm_kl_between_snapshot_laws(spark):
    """KL(A||A) == 0 exactly (identical snapshots); a distribution swap
    is detected; the value matches a brute-force union-vocab reference."""
    import math
    from collections import Counter, defaultdict

    a_rows = [(1, "s", "x x y z"), (2, "s", "x y")]
    b_rows = [(3, "s", "z z z q")]
    schema = "doc_id long, source string, text string"
    dfa = spark.createDataFrame(a_rows, schema)
    dfb = spark.createDataFrame(b_rows, schema)
    same = text.lm_kl_between(dfa, dfa).collect()[0]
    assert same["kl_nats"] == 0.0
    assert same["n_tokens_a"] == same["n_tokens_b"] == 6

    got = text.lm_kl_between(dfa, dfb).collect()[0]

    def counts(rows):
        d = defaultdict(Counter)
        for _, s, t in rows:
            for w in t.split():
                d[s][w] += 1
        return d

    ca, cb = counts(a_rows), counts(b_rows)
    union = set(ca["s"]) | set(cb["s"])
    v, na, nb = len(union), sum(ca["s"].values()), sum(cb["s"].values())
    kl = sum(
        ((ca["s"][w] + 1) / (na + v))
        * math.log(((ca["s"][w] + 1) / (na + v)) / ((cb["s"][w] + 1) / (nb + v)))
        for w in union
    )
    assert got["kl_nats"] == round(kl, 4)
    assert got["vocab_union"] == v
    assert got["kl_nats"] > 0.0


def test_lsh_recall_eval_laws(spark):
    """recall == n_hits/k and hits never exceed candidates; growing the
    table count grows every query's candidate union and (because anything
    scoring above a true top-k member is itself in the true top-k) can
    only ADD hits; and the panel's n_hits for a query equals the overlap
    between the production ann_lsh_topk answer and the exact cosine_topk
    answer under the same planes — the panel measures the path users run."""
    import random

    from spark_auto_schema.ops import similarity

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(k=5, num_planes=2, dim=8, seed=9)
    one = {
        r["qid"]: r
        for r in similarity.lsh_recall_eval(
            df, query_ids=[0, 1, 2], num_tables=1, **kw
        ).collect()
    }
    six = {
        r["qid"]: r
        for r in similarity.lsh_recall_eval(
            df, query_ids=[0, 1, 2], num_tables=6, **kw
        ).collect()
    }
    similarity.release_caches()
    assert set(one) == set(six) == {0, 1, 2}
    for got in (one, six):
        for r in got.values():
            assert 0 <= r["n_hits"] <= 5
            assert r["n_hits"] <= r["n_candidates"]
            assert r["recall_at_k"] == round(r["n_hits"] / 5.0, 6)
    for qid in (0, 1, 2):
        assert six[qid]["n_candidates"] >= one[qid]["n_candidates"]
        assert six[qid]["n_hits"] >= one[qid]["n_hits"]
    # consistency with the production single-query path
    exact_ids = {
        r["vec_id"]
        for r in similarity.cosine_topk(df, query_id=0, k=5).collect()
    }
    lsh_ids = {
        r["vec_id"]
        for r in similarity.ann_lsh_topk(
            df, query_id=0, k=5, num_planes=2, num_tables=6, dim=8, seed=9
        ).collect()
    }
    assert six[0]["n_hits"] == len(exact_ids & lsh_ids)


def test_contamination_diff_statuses(spark):
    """All four movement classes + the exclusions: a doc contaminated only
    in B is 'new', only in A 'gone', equal overlap 'stable', moved overlap
    'changed'; clean docs and the probe doc itself never appear."""
    from spark_auto_schema.ops import dedup

    probe_text = "the quick brown fox jumps over the lazy dog tonight"
    clean = "completely different words without any overlap at all here"
    partial = "quick brown fox jumps over something else entirely now"
    probe = spark.createDataFrame(
        [(0, probe_text)], "doc_id long, text string"
    )
    a = spark.createDataFrame(
        [
            (0, probe_text),   # probe doc present in the corpus: excluded
            (10, probe_text),  # gone (absent from B)
            (12, probe_text),  # stable
            (13, probe_text),  # changed (B carries a reduced copy)
            (14, clean),       # clean: never appears
        ],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [
            (11, probe_text),  # new (absent from A)
            (12, probe_text),
            (13, partial),
            (14, clean),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in dedup.contamination_diff(a, b, probe, n=3).collect()
    }
    dedup.release_caches()
    assert set(got) == {10, 11, 12, 13}
    assert got[10]["status"] == "gone" and got[10]["n_shared_b"] == 0
    assert got[11]["status"] == "new" and got[11]["n_shared_a"] == 0
    assert got[12]["status"] == "stable" and got[12]["delta"] == 0
    assert got[13]["status"] == "changed"
    assert got[13]["delta"] == got[13]["n_shared_b"] - got[13]["n_shared_a"]
    assert got[13]["delta"] < 0


def test_score_drift_laws(spark):
    """Identical snapshots drift 0 at every grid point; a constant shift c
    moves EVERY quantile by exactly c (so max_qdiff == avg_qdiff == c);
    groups present in only one snapshot are excluded (membership drift is
    not score drift)."""
    from spark_auto_schema.ops import scoring

    rows_a = [(i, "g1" if i < 40 else "g2", float(i % 10)) for i in range(80)]
    a = spark.createDataFrame(rows_a, "id long, grp0 string, v double")
    same = {
        r["grp"]: r
        for r in scoring.score_drift(a, a, "v", "grp0", grid=5).collect()
    }
    assert set(same) == {"g1", "g2"}
    for r in same.values():
        assert r["max_qdiff"] == 0.0 and r["avg_qdiff"] == 0.0
        assert r["n_a"] == r["n_b"]
    b = a.select("id", "grp0", (F.col("v") + 2.5).alias("v"))
    only_b = spark.createDataFrame(
        [(999, "g3", 1.0)], "id long, grp0 string, v double"
    )
    shifted = {
        r["grp"]: r
        for r in scoring.score_drift(
            a, b.unionByName(only_b), "v", "grp0", grid=5
        ).collect()
    }
    assert set(shifted) == {"g1", "g2"}  # g3 has no snapshot-A rows
    for r in shifted.values():
        assert r["max_qdiff"] == 2.5 and r["avg_qdiff"] == 2.5


def test_domain_cap_psl_audit_branches(spark):
    """The audit must exercise BOTH domain_cap branches (the skewed
    example.org group caps at exactly _DCAP_AUDIT_CAP; every PSL-branch
    group passes through uncapped) and every suffix rule must have
    resolved to its correct registered domain — a PSL regression would
    re-bucket hosts and break these exact counts."""
    import __spark_entry__ as entry
    from spark_auto_schema.registry.curation import _DCAP_AUDIT_CAP

    got = {
        r["registered_domain"]: r
        for r in entry.queries()["domain_cap_psl_audit"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(got) == {
        "example.co.uk",        # two-level ICANN
        "example.com",          # generic fallback
        "mysite.github.io",     # PSL private section
        "district.k12.ca.us",   # three-level beats ca.us
        "example.com.cn",       # two-level ICANN (cn)
        "example.org",          # generic fallback, skew target
    }
    org = got["example.org"]
    assert org["capped"] and org["n_kept"] == _DCAP_AUDIT_CAP
    assert org["n_urls"] > _DCAP_AUDIT_CAP
    for dom, r in got.items():
        if dom != "example.org":
            assert not r["capped"] and r["n_kept"] == r["n_urls"]


def test_cluster_stats_density_laws(spark):
    """A triangle (3 members, 3 edges) has density exactly 1.0; a 3-chain
    (A-B, B-C, no A-C edge) has density 2/3; avg_jaccard is the mean of
    the member edges; singletons never appear (clusters come from edges)."""
    from spark_auto_schema.ops import dedup

    pairs = spark.createDataFrame(
        [
            (1, 2, 0.9), (2, 3, 0.9), (1, 3, 0.8),   # triangle 1-2-3
            (10, 11, 0.85), (11, 12, 0.95),           # chain 10-11-12
        ],
        "id_a long, id_b long, jaccard double",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)],
        "id long, cluster_id long",
    )
    got = {
        r["cluster_id"]: r
        for r in dedup.cluster_stats(pairs, clusters).collect()
    }
    assert set(got) == {1, 10}
    tri, chain = got[1], got[10]
    assert tri["n_members"] == 3 and tri["n_edges"] == 3
    assert tri["density"] == 1.0
    assert tri["avg_jaccard"] == round((0.9 + 0.9 + 0.8) / 3, 6)
    assert chain["n_members"] == 3 and chain["n_edges"] == 2
    assert chain["density"] == round(2 * 2 / (3 * 2), 6)
    assert chain["avg_jaccard"] == 0.9


def test_cluster_stats_singletons_and_mismatched_edges(spark):
    """r10-advice contract: a cluster with no intra-cluster edge (a
    singleton in the clusters frame) is KEPT at n_edges=0 / density=0.0 /
    avg_jaccard NULL instead of silently dropped, and an edge whose
    endpoints map to DIFFERENT clusters (inconsistent pairs/clusters
    input) counts toward neither cluster rather than being misattributed
    to id_a's."""
    from spark_auto_schema.ops import dedup

    pairs = spark.createDataFrame(
        [
            (1, 2, 0.9),     # intra-cluster edge of cluster 1
            (2, 10, 0.8),    # cross-cluster edge: endpoints disagree
        ],
        "id_a long, id_b long, jaccard double",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (99, 99)],  # 99 = singleton, no edges
        "id long, cluster_id long",
    )
    got = {
        r["cluster_id"]: r
        for r in dedup.cluster_stats(pairs, clusters).collect()
    }
    assert set(got) == {1, 10, 99}
    assert got[1]["n_edges"] == 1 and got[1]["avg_jaccard"] == 0.9
    # the cross-cluster edge was attributed to NEITHER cluster
    assert got[10]["n_edges"] == 0 and got[10]["density"] == 0.0
    assert got[10]["avg_jaccard"] is None
    assert got[99]["n_members"] == 1 and got[99]["n_edges"] == 0
    assert got[99]["density"] == 0.0 and got[99]["avg_jaccard"] is None


def test_redaction_audit_laws(spark):
    """Clean text audits clean (before == after == 0, all_clean); planted
    PII is fully counted before and fully scrubbed after (redact_pii and
    the recount use the same regexes, so after == 0 and all_clean holds);
    residual_per_kchar is 0 exactly when clean."""
    from spark_auto_schema.ops import text as t

    df = spark.createDataFrame(
        [
            ("a", "nothing sensitive here at all"),
            ("b", "mail bob@example.com or sue@test.org today"),
            ("b", "call +1 (555) 123-4567 now"),
        ],
        "source string, text string",
    )
    got = {r["grp"]: r for r in t.redaction_audit(df).collect()}
    assert got["a"]["n_matches_before"] == 0
    assert got["a"]["all_clean"] and got["a"]["residual_per_kchar"] == 0.0
    assert got["b"]["n_matches_before"] == 3  # 2 emails + 1 phone
    assert got["b"]["n_matches_after"] == 0 and got["b"]["all_clean"]


def test_band_occupancy_prices_the_lsh_join(spark):
    """The candidate-pair mass must equal the ACTUAL distinct-pair fanout
    of the LSH candidate join summed over bands (the meter prices the
    join it guards), exact duplicates land in one bucket per band
    (max_bucket == clone count), and an all-distinct corpus reads
    all-singleton with zero candidate pairs."""
    from spark_auto_schema.ops import dedup

    base = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base)]
        + [(10 + i, " ".join(f"u{i}_{j}" for j in range(30))) for i in range(4)],
        "doc_id long, text string",
    )
    occ = dedup.band_occupancy(df).collect()
    assert {r["band"] for r in occ} == {0, 1, 2, 3}
    for r in occ:
        # the three clones share every minhash -> one 3-doc bucket/band
        assert r["max_bucket"] == 3
        assert r["n_candidate_pairs"] == 3  # C(3,2) per band
        assert r["n_buckets"] == 5  # 1 clone bucket + 4 singletons
        assert r["singleton_frac"] == round(4 / 5, 6)
    clean = spark.createDataFrame(
        [(i, " ".join(f"v{i}_{j}" for j in range(30))) for i in range(6)],
        "doc_id long, text string",
    )
    for r in dedup.band_occupancy(clean).collect():
        assert r["max_bucket"] == 1 and r["n_candidate_pairs"] == 0
        assert r["singleton_frac"] == 1.0


def test_lsh_empirical_detection_laws(spark):
    """Exact clones (jaccard 1.0) collide in every band, so the 1.0 bin
    must read detect_rate == 1.0 == p_analytic; every bin satisfies
    n_detected <= n_truth and detect_rate == n_detected/n_truth; and no
    bin sits below the min_jaccard cut."""
    from spark_auto_schema.ops import dedup

    base = " ".join(f"w{i}" for i in range(30))
    rows = [(1, base), (2, base), (3, base)] + [
        (10 + i, " ".join(f"u{i}_{j}" for j in range(30))) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.lsh_empirical_detection(df, min_jaccard=0.5).collect()
    dedup.release_caches()
    assert got, "the clone pairs must produce at least the 1.0 bin"
    by_bin = {r["bin_lo"]: r for r in got}
    top = by_bin[1.0]
    assert top["n_truth"] == 3  # C(3,2) clone pairs
    assert top["detect_rate"] == 1.0 and top["p_analytic"] == 1.0
    for r in got:
        assert r["bin_lo"] >= 0.5
        assert 0 <= r["n_detected"] <= r["n_truth"]
        assert r["detect_rate"] == round(r["n_detected"] / r["n_truth"], 6)


def test_mix_drift_laws(spark):
    """Identical snapshots drift 0; a complete category swap drifts the
    maximum L1 of 2.0; a group present in only one snapshot is excluded."""
    from spark_auto_schema.ops import corpus

    a = spark.createDataFrame(
        [("g", "x")] * 10 + [("solo", "x")] * 3,
        "src string, lang0 string",
    )
    same = {r["grp"]: r for r in corpus.mix_drift(a, a, "src", "lang0").collect()}
    assert same["g"]["l1_distance"] == 0.0 and same["g"]["n_cats"] == 1
    b = spark.createDataFrame([("g", "y")] * 10, "src string, lang0 string")
    swap = {r["grp"]: r for r in corpus.mix_drift(a, b, "src", "lang0").collect()}
    assert set(swap) == {"g"}  # 'solo' has no snapshot-B rows
    assert swap["g"]["l1_distance"] == 2.0
    assert swap["g"]["n_cats"] == 2
    assert swap["g"]["n_a"] == 10 and swap["g"]["n_b"] == 10


def test_quantized_recall_eval_laws(spark):
    """On a corpus whose values are exactly representable by the code grid
    (binary dims: lo=0, hi=1, codes 0/255 dequantize losslessly) the
    quantized ranking equals the exact one, so recall@k == 1.0 for every
    query; on arbitrary data recall stays in [0,1] with
    recall == n_hits/k."""
    import random

    from spark_auto_schema.ops import similarity

    rng = random.Random(13)
    binary = spark.createDataFrame(
        [(i, [float(rng.randint(0, 1)) for _ in range(16)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    lossless = similarity.quantized_recall_eval(
        binary, query_ids=[0, 1, 2], k=5
    ).collect()
    similarity.release_caches()
    assert {r["qid"] for r in lossless} == {0, 1, 2}
    for r in lossless:
        assert r["n_hits"] == 5 and r["recall_at_k"] == 1.0
    lossy = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    coarse = similarity.quantized_recall_eval(
        lossy, query_ids=[0, 1], k=5, levels=2
    ).collect()
    similarity.release_caches()
    for r in coarse:
        assert 0 <= r["n_hits"] <= 5
        assert r["recall_at_k"] == round(r["n_hits"] / 5.0, 6)


def test_chunk_reconstruction_check_laws(spark):
    """Every document reassembles exactly (ok true) with overhead equal
    to overlap x (n_chunks - 1) when only the last chunk is short; a doc
    shorter than one chunk has 1 chunk and zero overhead; and the check
    actually FAILS on a corrupted chunking (probe the detector, not just
    the pass path)."""
    from spark_auto_schema.ops import text as t

    long_doc = " ".join(f"w{i}" for i in range(25))
    short_doc = "just a few tokens"
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in t.chunk_reconstruction_check(
            df, chunk_tokens=8, overlap=2
        ).collect()
    }
    assert got[1]["ok"] and got[2]["ok"]
    assert got[2]["n_chunks"] == 1 and got[2]["overhead_tokens"] == 0
    # 25 tokens, step 6: starts 0,6,12,18,24 -> 5 chunks covering
    # 8+8+8+7+1 = 32 chunk tokens (the tail chunks run out of document)
    assert got[1]["n_chunks"] == 5
    assert got[1]["doc_tokens"] == 25
    assert got[1]["chunk_tokens_total"] == 8 + 8 + 8 + 7 + 1
    assert got[1]["overhead_tokens"] == 32 - 25
    # every self-consistent parameterization passes — the contract's
    # strict string equality is what a windowing off-by-one would flip
    for ct, ov in ((8, 4), (5, 1)):
        for r in t.chunk_reconstruction_check(
            df, chunk_tokens=ct, overlap=ov
        ).collect():
            assert r["ok"], (ct, ov, r)


def test_sample_bias_audit_laws(spark):
    """The audit's kept-count per group must equal what hash_sample
    actually keeps (same threshold expression — they can never disagree);
    fraction 1.0 keeps everything (rate 1, deviation 0); rate always
    equals n_sampled/n_corpus."""
    from spark_auto_schema.ops import sampling

    df = spark.createDataFrame(
        [(i, "g" + str(i % 3)) for i in range(300)],
        "id long, src string",
    )
    audit = {
        r["grp"]: r
        for r in sampling.sample_bias_audit(df, "id", "src", 0.2).collect()
    }
    kept = (
        sampling.hash_sample(df, "id", 0.2)
        .groupBy("src")
        .count()
        .collect()
    )
    actual = {r["src"]: r["count"] for r in kept}
    for g, r in audit.items():
        assert r["n_sampled"] == actual.get(g, 0)
        assert r["rate"] == round(r["n_sampled"] / r["n_corpus"], 6)
    full = sampling.sample_bias_audit(df, "id", "src", 1.0).collect()
    for r in full:
        assert r["rate"] == 1.0 and r["rel_deviation"] == 0.0
    # r10-advice: deviation is measured against the REALIZED threshold
    # probability int(f*65536)/65536, so a whole-corpus audit at a
    # fraction the 4-hex threshold can't represent exactly shows zero
    # SYSTEMATIC offset: deviation of the pooled rate must match the
    # realized target, not the nominal one
    assert sampling.realized_fraction(0.15) == int(0.15 * 65536) / 65536
    assert sampling.realized_fraction(0.15) != 0.15  # the quantized case
    assert sampling.realized_fraction(0.25) == 0.25  # exactly representable
    assert sampling.realized_fraction(1.0) == 1.0
    pooled = {
        r["grp"]: r
        for r in sampling.sample_bias_audit(
            df.withColumn("src", F.lit("all")), "id", "src", 0.15
        ).collect()
    }["all"]
    target = sampling.realized_fraction(0.15)
    assert pooled["rel_deviation"] == round(
        (pooled["n_sampled"] / pooled["n_corpus"] - target) / target, 6
    )


def test_dedup_threshold_sweep_laws(spark):
    """Counts are monotone non-increasing in the threshold, the sweep
    agrees exactly with per-threshold ngram_jaccard_pairs reruns, and
    exact clones survive every cut."""
    from spark_auto_schema.ops import dedup

    base = " ".join(f"w{i}" for i in range(30))
    near = base + " tail1 tail2 tail3 tail4 tail5 tail6 tail7 tail8"
    rows = [(1, base), (2, base), (3, near)] + [
        (10 + i, " ".join(f"u{i}_{j}" for j in range(30))) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sweep = {
        r["threshold"]: r
        for r in dedup.dedup_threshold_sweep(
            df, thresholds=(0.5, 0.8, 0.95), max_df=None
        ).collect()
    }
    dedup.release_caches()
    ps = [sweep[t]["n_pairs"] for t in (0.5, 0.8, 0.95)]
    ds = [sweep[t]["n_docs"] for t in (0.5, 0.8, 0.95)]
    assert ps == sorted(ps, reverse=True)
    assert ds == sorted(ds, reverse=True)
    for t in (0.5, 0.8, 0.95):
        direct = dedup.ngram_jaccard_pairs(
            df, threshold=t, max_df=None
        ).collect()
        dedup.release_caches()
        assert sweep[t]["n_pairs"] == len(direct), t
        assert sweep[t]["n_docs"] == len(
            {r["id_a"] for r in direct} | {r["id_b"] for r in direct}
        ), t
    assert sweep[0.95]["n_pairs"] >= 1  # the clone pair survives every cut


def test_embedding_dim_drift_detects_planted_dimension(spark):
    """Planting a +10 shift on ONE dimension exactly along the md5 hash
    split makes that dimension the top drifted one with abs_diff == 10;
    rows come back k-sized, descending, with abs_diff == |mean_a-mean_b|."""
    import hashlib

    import __spark_entry__ as entry
    from spark_auto_schema.registry.extensions import _DIMDRIFT_TOPK

    def half(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 2

    rows = []
    for i in range(80):
        v = [0.5] * 8
        v[3] = 10.0 if half(i) else 0.0
        rows.append((i, v, 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    df.createOrReplaceTempView("__dim_drift_probe")
    # drive the registry query body against the planted frame
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        got = entry.queries()["embedding_dim_drift"](spark, d).collect()
    assert len(got) == _DIMDRIFT_TOPK
    top = got[0]
    assert top["pos"] == 3 and top["abs_diff"] == 10.0
    diffs = [r["abs_diff"] for r in got]
    assert diffs == sorted(diffs, reverse=True)
    for r in got:
        assert r["abs_diff"] == round(abs(r["mean_a"] - r["mean_b"]), 6)


def test_length_drift_sources_zero_on_uniform_lengths(spark):
    """A corpus whose every document has the same token count cannot
    drift: every source reads max_qdiff == avg_qdiff == 0."""
    import tempfile

    import __spark_entry__ as entry

    rows = [
        (i, f"s{i % 4}", " ".join(f"w{j}" for j in range(12)), "en")
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, lang string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = entry.queries()["length_drift_sources"](spark, d).collect()
    assert got, "every source has both hash halves at n=120"
    for r in got:
        assert r["max_qdiff"] == 0.0 and r["avg_qdiff"] == 0.0


def test_kmeans_lloyd_identical_through_join_path(spark, monkeypatch):
    """The iterative composition (init -> assign -> k*d mean aggregate,
    repeated) must reproduce exactly when every assignment runs the
    broadcast-join path: same centroids, same inertia history — the
    training loop is path-invariant, not just a single assignment."""
    pts = [(i, [0.0 + i * 0.01, 0.0]) for i in range(10)] + [
        (100 + i, [10.0 + i * 0.01, 10.0]) for i in range(10)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    c_lit, a_lit, h_lit = similarity.kmeans_lloyd(df, k=2, iters=3)
    lit_assign = sorted(
        (r["vec_id"], r["cluster"], r["sq_dist"]) for r in a_lit.collect()
    )
    monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_NODE_BUDGET", 0)
    c_j, a_j, h_j = similarity.kmeans_lloyd(df, k=2, iters=3)
    join_assign = sorted(
        (r["vec_id"], r["cluster"], r["sq_dist"]) for r in a_j.collect()
    )
    assert c_lit == c_j and h_lit == h_j and lit_assign == join_assign


def test_pair_jaccard_identical_to_co_shingle_verify_tail(spark):
    """r14 optimization: every LSH verify tail now computes exact Jaccard
    ONLY for the candidate pairs (_pair_jaccard) instead of scoring all
    co-shingle pairs among candidate docs and joining back.  Law: for any
    pair set, the candidate-driven result equals the old
    full-co-shingle-then-inner-join tail, in both the single-relation and
    cross-relation forms, and a zero-overlap pair is absent from both."""
    from pyspark.sql import functions as F

    docs = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),
        (3, "p q r s t u v w"),
        (4, "p q r s t u v y"),
        (5, "m n o completely different words here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = dedup.shingles(df, "text", "doc_id", 3)

    def sets(rel):
        return rel.groupBy("id").agg(F.collect_set("shingle").alias("set"))

    # candidate set: two true near-dup pairs, one zero-overlap pair
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (1, 5)], "id_a long, id_b long"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup._pair_jaccard(pairs, sets(sh)).collect()
    )
    ref = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in pairs.join(
            dedup._jaccard_from_shingles(sh), ["id_a", "id_b"], "inner"
        ).collect()
    )
    assert got == ref and len(got) == 2  # (1,5) shares nothing -> absent

    # cross-relation form (the incremental_near_dedup tail)
    sh_new = sh.where(F.col("id").isin(1, 3, 5))
    sh_cor = sh.where(F.col("id").isin(2, 4))
    cpairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 2)], "id_new long, id_cor long"
    )
    got_x = sorted(
        (r["id_new"], r["id_cor"], r["jaccard"])
        for r in dedup._pair_jaccard(
            cpairs, sets(sh_new), sets(sh_cor), a_col="id_new", b_col="id_cor"
        ).collect()
    )
    # reference: full cross co-shingle pairs, inner-joined to the pair set
    sz_n = sh_new.groupBy("id").agg(F.count(F.lit(1)).alias("sz_new"))
    sz_c = sh_cor.groupBy("id").agg(F.count(F.lit(1)).alias("sz_cor"))
    inter = (
        sh_new.join(sz_n, "id").alias("n")
        .join(sh_cor.join(sz_c, "id").alias("c"), on="shingle")
        .groupBy(F.col("n.id").alias("id_new"), F.col("c.id").alias("id_cor"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min(F.col("n.sz_new")).alias("sz_new"),
            F.min(F.col("c.sz_cor")).alias("sz_cor"),
        )
    )
    ref_x = sorted(
        (r["id_new"], r["id_cor"], r["jaccard"])
        for r in cpairs.join(
            inter.select(
                "id_new",
                "id_cor",
                F.round(
                    (
                        F.col("inter")
                        / (F.col("sz_new") + F.col("sz_cor") - F.col("inter"))
                    ).cast("decimal(18,12)"),
                    4,
                ).cast("double").alias("jaccard"),
            ),
            ["id_new", "id_cor"],
            "inner",
        ).collect()
    )
    assert got_x == ref_x and len(got_x) == 2
    dedup.release_caches()


def test_dedup_clusters_identical_through_distributed_path(spark, monkeypatch):
    """The driver union-find cutover (_DRIVER_CC_EDGE_BUDGET) must be a pure
    perf knob: same (id, cluster_id) multiset as the iterative min-label
    propagation on the same pair set — including a chain component (where
    path-halving matters) and an isolated pair."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8), (10, 9)],
        "id_a long, id_b long",
    )
    drv = sorted(
        (r["id"], r["cluster_id"])
        for r in dedup.dedup_clusters(pairs).collect()
    )
    monkeypatch.setattr(dedup, "_DRIVER_CC_EDGE_BUDGET", 0)
    dist = sorted(
        (r["id"], r["cluster_id"])
        for r in dedup.dedup_clusters(pairs).collect()
    )
    assert drv == dist
    assert drv == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (7, 7), (8, 7), (9, 9), (10, 9),
    ]
    dedup.release_caches()
