"""Focused tests for the round-15 optimization changes: invariants the
DuckDB mirror cannot express or degenerate inputs it never sees.

* contamination_ngram_sweep's per-n row contract on an eval side that
  produces zero grams for some n (the r14 ADVICE low — the r14 rewrite
  silently dropped those rows; the fix densifies over the swept ns).
* simhash packed-lane tallies vs the former per-bit CASE-WHEN sums, for
  both hash grades — bit-identical signatures on adversarial
  tie/short-doc inputs (the sf0.1 A/B pinned the corpus; this pins the
  edge cases).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_auto_schema.ops import dedup


def test_contamination_sweep_emits_row_for_gramless_n(spark):
    # 2-word eval texts produce 4-grams ('' after slice-shortfall is
    # filtered) only for n <= 2... with the shingles construction a text
    # shorter than n yields the whole text as its single gram, so use an
    # EMPTY eval text: split('') -> [''] -> filtered by length > 0, i.e.
    # zero grams at EVERY n — the degenerate case the advisor flagged.
    train = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p")], "doc_id long, text string"
    )
    ev = spark.createDataFrame([(100, "")], "doc_id long, text string")
    out = dedup.contamination_ngram_sweep(train, ev, ns=(4, 8, 13))
    rows = {r["n"]: r for r in out.collect()}
    assert set(rows) == {4, 8, 13}, "one row per swept n, even gramless"
    for n, r in rows.items():
        assert r["n_eval_grams"] == 0
        assert r["n_eval_grams_hit"] == 0
        assert r["n_train_docs_hit"] == 0
        assert r["eval_hit_rate"] is None


def test_contamination_sweep_mixed_gramless_n(spark):
    # eval text with 5 words: produces grams at n=4 but (per the shingles
    # rule) also a single whole-text gram at n=8/13 — so to exercise a
    # MIXED sweep the eval set must pair an empty doc with a real one;
    # every n still emits exactly one row and totals count only real grams
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon"), (101, "")],
        "doc_id long, text string",
    )
    out = dedup.contamination_ngram_sweep(train, ev, ns=(4, 8))
    rows = {r["n"]: r for r in out.collect()}
    assert set(rows) == {4, 8}
    assert rows[4]["n_eval_grams"] == 2  # two distinct 4-grams of 5 words
    assert rows[4]["n_eval_grams_hit"] == 2  # both occur in train
    # n=8 > |eval words|: the whole 5-word text is the single gram; it
    # does not occur as an 8-gram... the train side's whole-text rule
    # applies at len(words) < n only for train docs shorter than n, so
    # no hit — but the row exists with its true totals
    assert rows[8]["n_eval_grams"] == 1
    assert rows[8]["n_eval_grams_hit"] == 0


def _pre_r15_md5_tallies(tok):
    # the md5 grade's former formulation: one +/-1 sum per hex digit
    h_lo = F.md5(tok)
    h_hi = F.md5(F.concat(F.lit("x:"), tok))
    return [
        F.sum(
            F.when(
                (F.substring(h_lo, i + 1, 1) if i < 32 else F.substring(h_hi, i - 31, 1))
                >= "8",
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]


def _pre_r15_xxhash_tallies(tok):
    h = F.xxhash64(tok)
    return [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]


@pytest.mark.parametrize("md5_grade", [False, True], ids=["xxhash64", "md5"])
def test_simhash_packed_lanes_tie_and_short_docs(spark, md5_grade):
    # ties (2*cnt == n) must NOT set the bit (the former sum(+/-1) > 0
    # rule); single-token and repeated-token docs exercise cnt in {0, n}
    docs = spark.createDataFrame(
        [
            (1, "x y"),  # 2 tokens: any bit where they disagree ties -> 0
            (2, "x"),
            (3, "x x x x x"),  # cnt is 0 or n on every bit
            (4, "a b c d e f g h"),
            (5, " lead  and trail "),  # empty split tokens are dropped
        ],
        "doc_id long, text string",
    )
    fn = dedup.simhash_md5 if md5_grade else dedup.simhash
    got = {r["id"]: r["simhash"] for r in fn(docs).collect()}

    # reference: recompute with the pre-r15 formulation inline
    tokens = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).where(F.length("tok") > 0)
    tally = _pre_r15_md5_tallies if md5_grade else _pre_r15_xxhash_tallies
    tallies = tokens.groupBy("id").agg(*tally(F.col("tok")))
    if md5_grade:
        sig = F.concat(
            *[
                F.when(F.col(f"b{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
                for i in range(64)
            ]
        )
    else:
        sig = None
        for i in range(64):
            bit = F.when(
                F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
            sig = bit if sig is None else sig.bitwiseOR(bit)
    want = {
        r["id"]: r["ref"]
        for r in tallies.select("id", sig.alias("ref")).collect()
    }
    assert got == want
