"""Edge texts through every operator built on the shared text primitives
of ``spark_auto_schema/ops/_tokens.py``: the word list, the mean word
length, the per-group word count, the a-z0-9 term key and the md5 hex
integer.

The testdata corpora hold no NULL, empty or multi-space text, so the
oracle check cannot see a slip in how one of these operators treats
them.  Each output here is pinned row for row."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from spark_auto_schema.ops import corpus, dedup, packing, sampling, scoring, text

# NULL, empty, blank, a double space, a leading and a trailing space, a tab
# inside a word, plus ordinary texts so the corpus-level counts have content
EDGE_ROWS = [
    (1, None, "s1", 1.0),
    (2, "", "s1", 2.0),
    (3, " ", "s1", 3.0),
    (4, "a  b", "s2", 4.0),
    (5, " a b c", "s2", 5.0),
    (6, "b c a ", "s2", 6.0),
    (7, "Ta\tb C, a b", "s1", 7.0),
    (8, "a b c a b c d", "s2", 8.0),
    (9, "d c b a d c b a", "s1", 9.0),
]
EDGE_SCHEMA = "doc_id long, text string, source string, w double"

CASES = {
    # word list
    "dedup.simhash": lambda df: dedup.simhash(df),
    "dedup.simhash_md5": lambda df: dedup.simhash_md5(df),
    "dedup.token_window_dup_coverage": lambda df: dedup.token_window_dup_coverage(
        df, k=2
    ),
    "dedup.top_repeated_substrings": lambda df: dedup.top_repeated_substrings(
        df, k=2
    ),
    "dedup.dup_span_extract": lambda df: dedup.dup_span_extract(df, k=2),
    "dedup.token_survivorship": lambda df: dedup.token_survivorship(df),
    "sampling.dsir_importance_sample": lambda df: sampling.dsir_importance_sample(
        df, F.col("source") == "s1", n=9, num_buckets=16
    ),
    "text.top_terms": lambda df: text.top_terms(df),
    "text.unigram_logprob": lambda df: text.unigram_logprob(df),
    "text.vocab_coverage": lambda df: text.vocab_coverage(df, vocab_size=3),
    "text.bigram_pmi": lambda df: text.bigram_pmi(df, min_count=1),
    "text.bigram_logprob": lambda df: text.bigram_logprob(df),
    "text.token_entropy": lambda df: text.token_entropy(df),
    "text.tokenizer_fertility": lambda df: text.tokenizer_fertility(df),
    "text.zipf_slope": lambda df: text.zipf_slope(df),
    "text.lm_kl_divergence": lambda df: text.lm_kl_divergence(df),
    "text.lm_kl_between": lambda df: text.lm_kl_between(
        df.where(F.col("doc_id") % 2 == 0), df.where(F.col("doc_id") % 2 == 1)
    ),
    "text.heavy_hitters_sketch": lambda df: text.heavy_hitters_sketch(
        df, min_count=1
    ),
    "text.cooccurrence_pmi": lambda df: text.cooccurrence_pmi(
        df, min_count=1, min_pair_docs=1
    ),
    "text.text_stats": lambda df: text.text_stats(df),
    "text.token_count": lambda df: text.token_count(df),
    "text.quality_score": lambda df: text.quality_score(df),
    "text.gopher_quality_filter": lambda df: text.gopher_quality_filter(df),
    "scoring.featurize": lambda df: scoring.featurize(df),
    "text.chunk_documents": lambda df: text.chunk_documents(
        df, chunk_tokens=3, overlap=1
    ),
    "text.chunk_reconstruction_check": lambda df: text.chunk_reconstruction_check(
        df, chunk_tokens=3, overlap=1
    ),
    # term key
    "text.fingerprint": lambda df: text.fingerprint(df),
    # md5 hex integer
    "dedup.bloom_bitset": lambda df: dedup.bloom_bitset(df, num_bits=64),
    "dedup.bloom_incremental_dedup": lambda df: dedup.bloom_incremental_dedup(
        df, df.where(F.col("doc_id") <= 4), num_bits=64
    ),
    "dedup.cdc_chunks": lambda df: dedup.cdc_chunks(df, boundary_mod=2),
    "sampling.weighted_sample": lambda df: sampling.weighted_sample(
        df, "text", "w", 5
    ),
    "sampling.kfold_assign": lambda df: sampling.kfold_assign(df, "text", 3),
    "sampling.contrastive_negatives": lambda df: sampling.contrastive_negatives(
        df, k=2, num_buckets=4
    ),
    "packing.fim_transform": lambda df: packing.fim_transform(
        df, fim_rate_mod=1, min_tokens=3
    ),
    "packing.span_corruption": lambda df: packing.span_corruption(df, mask_mod=2),
    "corpus.epoch_shuffle": lambda df: corpus.epoch_shuffle(df, num_shards=3),
    "corpus.table_checksum": lambda df: corpus.table_checksum(df, n_shards=3),
}


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


# heavy_hitters_sketch and cooccurrence_pmi once reported the empty token
# ('') of a double space as a term; no row here holds it.  A NULL, empty or
# blank text has no word: 0 words, no chunk, no masked token, NULL ratios
EXPECTED: dict[str, list[tuple]] = {
    "corpus.epoch_shuffle": [
        (1, 0, 1), (2, 0, 4), (3, 2, 2), (4, 1, 3), (5, 0, 3), (6, 1, 1), (7, 2, 1),
        (8, 1, 2), (9, 0, 2),
    ],
    "corpus.table_checksum": [(0, 5, 3372966), (1, 1, 333614), (2, 3, 1195728)],
    "dedup.bloom_bitset": [
        (1,), (10,), (12,), (15,), (16,), (17,), (20,), (21,), (35,), (37,), (4,),
        (42,), (45,), (46,), (47,), (52,), (57,), (6,), (61,), (63,), (9,),
    ],
    "dedup.bloom_incremental_dedup": [
        ("0a1fcb708122770cddd909128f2a0b64", 8),
        ("430530dae271684171f86612d00935ad", 9),
        ("9b12aa994361316eab19bd79b6aabf7f", 5),
        ("bccd145f1c10c7ecef3b3a839da8317f", 7),
        ("c921ba104c370ab156e3f581186f6676", 6),
    ],
    "dedup.cdc_chunks": [
        (4, 0, "0cc9cd4dd26c5137b675a0d819cb9ab0", 2),
        (5, 0, "06f0760ec7f18687a7fbc0ddbf1b1722", 3),
        (6, 0, "b5fddffda43ed626a60026ef9d18ced2", 2),
        (6, 1, "0cc175b9c0f1b6a831c399e269772661", 1),
        (7, 0, "31b0a6c9d2089007e81999aa5c57a74f", 1),
        (7, 1, "b89e5a133abfb103cd888ed2cad06dc5", 1),
        (7, 2, "0cc9cd4dd26c5137b675a0d819cb9ab0", 2),
        (8, 0, "06f0760ec7f18687a7fbc0ddbf1b1722", 3),
        (8, 1, "06f0760ec7f18687a7fbc0ddbf1b1722", 3),
        (8, 2, "8277e0910d750195b448797616e091ad", 1),
        (9, 0, "728abd776b027760fd5963b56c173391", 2),
        (9, 1, "ebf0276e2fe9ed3cf9f64868e41422ff", 4),
        (9, 2, "22936088d666c8ef5cea01ba1aeb27c3", 2),
    ],
    "dedup.dup_span_extract": [
        (1, 1, 0, 3, ""), (2, 1, 0, 3, ""), (3, 1, 0, 3, ""), (4, 1, 2, 4, "a b"),
        (5, 1, 3, 3, "a b c"), (6, 1, 3, 2, "b c a"), (7, 3, 2, 4, "a b"),
        (8, 1, 6, 2, "a b c a b c"),
    ],
    "dedup.simhash": [
        (4, -9205289395534126912), (5, -9192903946783104038), (6, -9192903946783104038),
        (7, -9205033758405655910), (8, -9192903946783104038), (9, -9214296663488453798),
    ],
    "dedup.simhash_md5": [
        (4, "0010001110100011001001000000000000000000101001000010100000000001"),
        (5, "0111011110101011001011000000000000000000101101101011101011100111"),
        (6, "0111011110101011001011000000000000000000101101101011101011100111"),
        (7, "0010001110111000011011100100000001000010101010000010100000000000"),
        (8, "0111011110101011001011000000000000000000101101101011101011100111"),
        (9, "0010001010000010000001000000000000000000101001001011100011000101"),
    ],
    "dedup.token_survivorship": [
        ("s1", 5, 12, 12, 0, 12, 0.0), ("s2", 4, 15, 15, 0, 15, 0.0),
    ],
    "dedup.token_window_dup_coverage": [
        (1, 1, 1, 1.0, 1), (2, 1, 1, 1.0, 1), (3, 1, 1, 1.0, 1), (4, 1, 1, 1.0, 1),
        (5, 2, 2, 1.0, 2), (6, 2, 2, 1.0, 2), (7, 3, 1, 0.3333, 1),
        (8, 6, 5, 0.8333, 5), (9, 7, 0, 0.0, 0),
    ],
    "dedup.top_repeated_substrings": [
        ("", 3, 3), ("a b", 5, 4), ("b c", 4, 3), ("c a", 2, 2),
    ],
    "packing.fim_transform": [
        (1, False, None, "", ""), (2, False, "", "", ""), (3, False, " ", "", ""),
        (4, False, "a  b", "", ""), (5, True, "a", "b", "c"), (6, True, "b", "c", "a"),
        (7, True, "Ta\tb", "C,", "a b"), (8, True, "a", "b", "c a b c d"),
        (9, True, "d c b a d c", "b", "a"),
    ],
    "packing.span_corruption": [
        (4, "a <extra_id_0>", "<extra_id_0> b", 1),
        (5, "<extra_id_0>", "<extra_id_0> a b c", 1),
        (6, "b <extra_id_0>", "<extra_id_0> c a", 1),
        (7, "<extra_id_0> a b", "<extra_id_0> Ta\tb C,", 1),
        (8, "a <extra_id_0> b c d", "<extra_id_0> b c a", 1),
        (
            9,
            "<extra_id_0> c b a <extra_id_1> b <extra_id_2>",
            "<extra_id_0> d <extra_id_1> d c <extra_id_2> a",
            3,
        ),
    ],
    "sampling.contrastive_negatives": [
        (1, 1, 4), (1, 2, 7), (2, 1, 9), (2, 2, 9), (3, 1, 6), (3, 2, 9), (4, 1, 6),
        (4, 2, 9), (5, 1, 9), (5, 2, 6), (6, 1, 9), (6, 2, 9), (7, 1, 9), (7, 2, 4),
        (8, 1, 9), (8, 2, 9), (9, 1, 7), (9, 2, 7),
    ],
    "sampling.dsir_importance_sample": [
        (4, -1.735, -0.4132), (5, -3.1492, -2.7325), (6, -2.3129, -2.1659),
        (7, -1.1962, -0.9199), (8, -6.7116, -7.0462), (9, 2.1705, 2.7255),
    ],
    "sampling.kfold_assign": [
        (1, None, "s1", 1.0, None), (2, "", "s1", 2.0, 1), (3, " ", "s1", 3.0, 1),
        (4, "a  b", "s2", 4.0, 0), (5, " a b c", "s2", 5.0, 1),
        (6, "b c a ", "s2", 6.0, 1), (7, "Ta\tb C, a b", "s1", 7.0, 1),
        (8, "a b c a b c d", "s2", 8.0, 2), (9, "d c b a d c b a", "s1", 9.0, 2),
    ],
    "sampling.weighted_sample": [
        (2, "", "s1", 2.0), (4, "a  b", "s2", 4.0), (5, " a b c", "s2", 5.0),
        (6, "b c a ", "s2", 6.0), (7, "Ta\tb C, a b", "s1", 7.0),
    ],
    "scoring.featurize": [
        (1, 0.0, None, None, None), (2, 0.0, None, None, None),
        (3, 0.0, None, None, 0.0), (4, 1.0986122886681096, 1.0, 0.5, 0.5),
        (5, 1.3862943611198906, 1.0, 0.3333333333333333, 0.5),
        (6, 1.3862943611198906, 1.0, 0.3333333333333333, 0.5),
        (7, 1.6094379124341003, 2.0, 0.25, 0.5454545454545454),
        (8, 2.0794415416798357, 1.0, 0.2857142857142857, 0.5384615384615384),
        (9, 2.1972245773362196, 1.0, 0.25, 0.5333333333333333),
    ],
    "text.bigram_logprob": [
        (4, -0.8473, 1), (5, -0.9385, 2), (6, -1.208, 2), (7, -1.1176, 3),
        (8, -1.1553, 6), (9, -1.4281, 7),
    ],
    "text.bigram_pmi": [
        ("a", "b", 5, 0.9977), ("a", "d", 1, 0.3691), ("b", "a", 2, 0.0814),
        ("b", "c", 4, 0.9081), ("c", "a", 3, 0.6204), ("c", "b", 2, 0.2149),
        ("c", "d", 1, 0.5026), ("d", "c", 2, 1.1958), ("tab", "c", 1, 1.6012),
    ],
    "text.chunk_documents": [
        (4, 0, "a b", 2), (5, 0, "a b c", 3), (5, 1, "c", 1), (6, 0, "b c a", 3),
        (6, 1, "a", 1), (7, 0, "Ta\tb C, a", 3), (7, 1, "a b", 2), (8, 0, "a b c", 3),
        (8, 1, "c a b", 3), (8, 2, "b c d", 3), (8, 3, "d", 1), (9, 0, "d c b", 3),
        (9, 1, "b a d", 3), (9, 2, "d c b", 3), (9, 3, "b a", 2),
    ],
    "text.chunk_reconstruction_check": [
        (4, 1, 2, 2, 0, True), (5, 2, 3, 4, 1, True), (6, 2, 3, 4, 1, True),
        (7, 2, 4, 5, 1, True), (8, 4, 7, 10, 3, True), (9, 4, 8, 11, 3, True),
    ],
    "text.cooccurrence_pmi": [
        ("C,", "Ta\tb", 1, 2.1972), ("C,", "a", 1, 0.4055), ("C,", "b", 1, 0.4055),
        ("Ta\tb", "a", 1, 0.4055), ("Ta\tb", "b", 1, 0.4055), ("a", "b", 6, 0.4055),
        ("a", "c", 4, 0.4055), ("a", "d", 2, 0.4055), ("b", "c", 4, 0.4055),
        ("b", "d", 2, 0.4055), ("c", "d", 2, 0.8109),
    ],
    "text.fingerprint": [
        (1, None), (2, "d41d8cd98f00b204e9800998ecf8427e"),
        (3, "7215ee9c7d9dc229d2921a40e899ec5f"),
        (4, "b5cf57e329bd2a219a57cd31692c2d69"),
        (5, "9b12aa994361316eab19bd79b6aabf7f"),
        (6, "c921ba104c370ab156e3f581186f6676"),
        (7, "1f6cf091a602e58ed69635fc6870f592"),
        (8, "0a1fcb708122770cddd909128f2a0b64"),
        (9, "430530dae271684171f86612d00935ad"),
    ],
    "text.gopher_quality_filter": [
        (1, False, None, None, None, False), (2, False, None, False, None, False),
        (3, False, None, False, None, False), (4, False, False, False, True, False),
        (5, False, False, False, True, False), (6, False, False, False, True, False),
        (7, False, False, False, True, False), (8, False, False, True, True, False),
        (9, False, False, True, True, False),
    ],
    "text.heavy_hitters_sketch": [
        ("C,", 1), ("Ta\tb", 1), ("a", 8), ("b", 8), ("c", 6), ("d", 3),
    ],
    "text.lm_kl_between": [("s1", 0, 12, 6, 0.0393), ("s2", 12, 3, 4, 0.0059)],
    "text.lm_kl_divergence": [("s1", 12, 6, 0.0566), ("s2", 15, 4, 0.0082)],
    "text.quality_score": [
        (1, None), (2, None), (3, None), (4, 0.51), (5, 0.515), (6, 0.515), (7, 0.4927),
        (8, 0.535), (9, 0.54),
    ],
    "text.text_stats": [
        (1, None, 0, None, None), (2, 0, 0, None, 0), (3, 1, 0, None, 0),
        (4, 4, 2, 1.0, 0), (5, 6, 3, 1.0, 0), (6, 6, 3, 1.0, 0), (7, 11, 4, 2.0, 1),
        (8, 13, 7, 1.0, 0), (9, 15, 8, 1.0, 0),
    ],
    "text.token_count": [
        (1, 0, None), (2, 0, 0), (3, 0, 0), (4, 2, 2), (5, 3, 3), (6, 3, 3), (7, 4, 6),
        (8, 7, 7), (9, 8, 8),
    ],
    "text.token_entropy": [("s1", 12, 6, 1.7046), ("s2", 15, 4, 1.2654)],
    "text.tokenizer_fertility": [
        ("s1", 5, 27, 27, 12, 12, 2.25, 2.25, 1.0),
        ("s2", 4, 29, 29, 15, 15, 1.933333, 1.933333, 1.0),
    ],
    "text.top_terms": [("a", 8), ("b", 8), ("c", 7), ("d", 3), ("tab", 1)],
    "text.unigram_logprob": [
        (4, -1.2993, 2), (5, -1.3831, 3), (6, -1.3831, 3), (7, -2.0513, 4),
        (8, -1.4869, 7), (9, -1.5648, 8),
    ],
    "text.vocab_coverage": [
        (4, 2, 2, 1.0), (5, 3, 3, 1.0), (6, 3, 3, 1.0), (7, 4, 2, 0.5),
        (8, 7, 6, 0.8571), (9, 8, 6, 0.75),
    ],
    "text.zipf_slope": [("s1", 6, -0.6584), ("s2", 4, -0.941)],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_edge_text_outputs_are_pinned(spark, name):
    edge = spark.createDataFrame(EDGE_ROWS, EDGE_SCHEMA)
    assert _rows(CASES[name](edge)) == EXPECTED[name]
    dedup.release_caches()


def test_word_counters_skip_the_empty_token(spark):
    # a double space splits into an empty token; no operator counts it
    df = spark.createDataFrame(
        [(i, "alpha beta.  gamma delta.  epsilon") for i in range(6)],
        "doc_id long, text string",
    )
    hh = text.heavy_hitters_sketch(df, min_count=6).collect()
    assert sorted((r["term"], r["n"]) for r in hh) == [
        (t, 6) for t in ("alpha", "beta.", "delta.", "epsilon", "gamma")
    ]
    pmi = text.cooccurrence_pmi(df, min_count=6, min_pair_docs=6).collect()
    assert len(pmi) == 10
    assert all(r["term_a"] and r["term_b"] for r in pmi)


def test_bm25_length_skips_the_empty_token(spark):
    # the empty tokens of a double, leading or trailing space are no words,
    # so they do not lengthen a document
    texts = ["alpha beta", "alpha  beta", " alpha beta", "alpha beta "]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = text.bm25_topk(df, ["alpha"]).collect()
    assert len(rows) == 4 and len({r["bm25"] for r in rows}) == 1


def test_word_counts_agree_per_source(spark):
    # every whitespace word count in ops/ is the size of _tokens._words, so
    # the four per-source totals agree on NULL, blank and odd-space texts
    edge = spark.createDataFrame(EDGE_ROWS, EDGE_SCHEMA)

    def per_source(counts, col):
        by_source = counts.join(edge, "doc_id").groupBy("source").agg(F.sum(col))
        return dict(by_source.collect())

    ws = per_source(text.token_count(edge), "ws_tokens")
    nw = per_source(text.text_stats(edge), "n_words")
    fert = {
        r["grp"]: r["n_ws_tokens"] for r in text.tokenizer_fertility(edge).collect()
    }
    surv = {r["source"]: r["n_tokens"] for r in dedup.token_survivorship(edge).collect()}
    dedup.release_caches()
    assert ws == nw == fert == surv == {"s1": 12, "s2": 15}


@pytest.mark.parametrize("min_tokens", [1, 3])
def test_fim_spans_are_non_empty_when_applied(spark, min_tokens):
    # the documented contract: whenever FIM applies, prefix, middle and
    # suffix are all non-empty and together are the text's words in order
    edge = spark.createDataFrame(EDGE_ROWS, EDGE_SCHEMA)
    texts = {r["doc_id"]: r["text"] for r in edge.collect()}
    rows = packing.fim_transform(
        edge, fim_rate_mod=1, min_tokens=min_tokens
    ).collect()
    applied = [r for r in rows if r["fim_applied"]]
    assert len(applied) == 5
    for r in applied:
        spans = [r["prefix"], r["middle"], r["suffix"]]
        words = [w for w in texts[r["doc_id"]].split(" ") if w]
        assert all(spans), (r["doc_id"], spans)
        assert " ".join(spans) == " ".join(words)


# the only splits in ops/ outside _tokens.py: canonicalize_urls' query and
# host splits
_ALLOWED_SPLITS = ('F.split(query, "&")', 'F.split(host, r"\\.")')


def test_ops_split_words_only_in_tokens():
    ops_dir = Path(text.__file__).parent
    found, allowed = [], 0
    for path in sorted(ops_dir.glob("*.py")):
        if path.name == "_tokens.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if not re.search(r"\bsplit\(", line):
                continue
            if any(a in line for a in _ALLOWED_SPLITS):
                allowed += 1
            else:
                found.append(f"{path.name}:{i}: {line.strip()}")
    assert allowed == len(_ALLOWED_SPLITS)
    # the registry's Spark queries count words through _words too (their
    # DuckDB oracles through registry.extensions._words_sql)
    for path in sorted((ops_dir.parent / "registry").glob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if "F.split(" in line:
                found.append(f"registry/{path.name}:{i}: {line.strip()}")
    assert found == []


def test_token_survivorship_of_a_source_with_no_word(spark):
    # a source whose texts have no word has 0 tokens and no loss fraction
    df = spark.createDataFrame(
        [(1, " ", "s1"), (2, None, "s1"), (3, "a b", "s2")],
        "doc_id long, text string, source string",
    )
    rows = sorted(tuple(r) for r in dedup.token_survivorship(df).collect())
    dedup.release_caches()
    assert rows == [("s1", 2, 0, 0, 0, 0, None), ("s2", 1, 2, 2, 0, 2, 0.0)]
