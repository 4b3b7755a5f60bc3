"""Tests of the benchmark's own parts that need no Spark: the generators
are deterministic per seed, the checkers accept the planted truth and
reject deliberately wrong outputs, and the metric lists match
``BENCHMARK.json``.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
from check import check_drift, check_near_dup, components  # noqa: E402


def _rng(seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, 1])


def _text(seed: int) -> dict[int, list[str]]:
    rng = _rng(seed)
    vocab = gen.vocabulary(rng, 300)
    return {n: gen.phrases(rng, vocab, 64, n) for n in (80, 240, 400)}


def _table(tmp: Path, seed: int):
    path = tmp / f"table_{seed}.parquet"
    return path, gen.drift_table(_rng(seed), path, "wh", "t", 300, 38, seed, _text(seed))


def _docs(tmp: Path, seed: int):
    rng = _rng(seed)
    vocab = gen.vocabulary(rng, 2000)
    path = tmp / f"docs_{seed}"
    truth, texts = gen.doc_batch(rng, path, 200, 0, vocab, gen.zipf_probs(len(vocab)), 2)
    return path, truth, texts


def _bytes(path: Path) -> bytes:
    files = sorted(path.iterdir()) if path.is_dir() else [path]
    return b"".join(f.read_bytes() for f in files)


@pytest.mark.parametrize("make", [_table, _docs])
def test_generators_are_deterministic_per_seed(tmp_path, make):
    a, b, c = (tmp_path / d for d in "abc")
    for d in (a, b, c):
        d.mkdir()
    first, again, other = make(a, 7), make(b, 7), make(c, 8)
    assert _bytes(first[0]) == _bytes(again[0])
    assert first[1:] == again[1:]
    assert _bytes(first[0]) != _bytes(other[0])


def test_drift_truth_covers_every_type_and_the_varchar_cut(tmp_path):
    path, truth = _table(tmp_path, 3)
    types = {t for _, t in truth["columns"]}
    assert types == {"int4", "int8", "float8", "bool", "date", "timestamp",
                     "varchar(256)", "varchar(65535)", "notype"}
    table = pq.read_table(path)
    assert table.column_names == [name for name, _ in truth["columns"]]
    lengths = {name: max(len(v) for v in table.column(name).to_pylist() if v)
               for name, _ in truth["columns"] if name.startswith(("text_240", "long_text"))}
    assert {n: v for n, v in lengths.items() if n.startswith("text_240")} == {
        n: 240 for n in lengths if n.startswith("text_240")}
    assert all(v > 240 for n, v in lengths.items() if n.startswith("long_text"))


def _drift_output(truth):
    """What a correct drift op returns, built from the truth alone."""
    cols = [tuple(c) for c in truth["columns"]]
    table = "CREATE TABLE wh.t (\n" + "\n".join(
        f'{"" if i == 0 else ", "}"{n}" {"varchar(256)" if t == "notype" else t}'
        for i, (n, t) in enumerate(cols)) + "\n)\nDISTSTYLE EVEN\n"
    spark_table = "CREATE TABLE wh.t (\n" + ",\n".join(
        f"  {n} {gen.SPARK_OF[t]}" for n, t in cols) + "\n)\nUSING parquet"
    missing = [(f, p) for f, p, _, r in truth["diffs"] if r == "MISSING"]
    column_ddl = "\n".join(f"ALTER TABLE wh.t ADD COLUMN {f} {p};" for f, p in missing)
    spark_column = "ALTER TABLE wh.t ADD COLUMNS (" + ", ".join(
        f"{f} {gen.SPARK_OF[p]}" for f, p in missing) + ");"
    return [cols, table, spark_table, [tuple(r) for r in truth["diffs"]],
            column_ddl or None, spark_column if missing else None]


def test_drift_checker_rejects_wrong_types_and_diff_rows(tmp_path):
    _, truth = _table(tmp_path, 4)
    assert {r[3] for r in truth["diffs"]} == {"MISSING", "DEPRECATED", "TYPE MISMATCH"}
    out = _drift_output(truth)
    assert check_drift(*out, truth) == []

    def changed(k, value):
        return check_drift(*(out[:k] + [value] + out[k + 1:]), truth)

    cols = out[0]
    flipped = [(n, "int8" if t == "int4" else t) for n, t in cols]
    assert changed(0, flipped)
    assert changed(1, out[1].replace("varchar(65535)", "varchar(256)"))
    assert changed(3, out[3][1:])  # a dropped diff row
    name = next(n for n, t in cols if t == "int4")
    assert changed(3, out[3] + [(name, "int4", "int4", "TYPE MISMATCH")])  # alias pair
    assert changed(4, None)


def test_deployed_twin_uses_alias_spellings(tmp_path):
    ddl = " ".join(_table(tmp_path, s)[1]["deployed_ddl"] for s in range(1, 6))
    assert any(a in ddl for a in ("INTEGER", "LONG", "VARCHAR(64)", "CHAR(8)",
                                  "TIMESTAMP_NTZ"))


def _near_dup_output(truth):
    pairs = [(a, b, 1.0) for a, b in truth["near_dup_pairs"]]
    groups = {g[0]: len(g) for g in truth["exact_copy_groups"]}
    dropped = {x for g in truth["exact_copy_groups"] for x in g[1:]}
    hash_groups = [(i, groups.get(i, 1)) for i in range(truth["docs"]) if i not in dropped]
    clusters = sorted(components([(a, b) for a, b, _ in pairs]).items())
    return hash_groups, pairs, clusters


def test_near_dup_checker_rejects_wrong_pairs_and_clusters(tmp_path):
    _, truth, texts = _docs(tmp_path, 5)
    groups, pairs, clusters = _near_dup_output(truth)
    sets = {i: gen.shingle_set(t) for i, t in texts.items()}
    pairs = [(a, b, round(gen.jaccard(sets[a], sets[b]), 4)) for a, b, _ in pairs]
    errors, found = check_near_dup(groups, pairs, clusters, truth, texts)
    assert errors == [] and found == len(truth["near_dup_pairs"])

    # LSH may miss a planted pair: that lowers the recall, it is no error
    _, found = check_near_dup(groups, pairs[1:], sorted(components(
        [(a, b) for a, b, _ in pairs[1:]]).items()), truth, texts)
    assert found == len(truth["near_dup_pairs"]) - 1
    assert check_near_dup(groups, pairs, clusters[1:], truth, texts)[0]
    wrong = [(i, c + 1 if k == 0 else c) for k, (i, c) in enumerate(clusters)]
    assert check_near_dup(groups, pairs, wrong, truth, texts)[0]
    a, b, _ = pairs[0]
    far = next(x for x in texts if x not in (a, b) and
               gen.jaccard(sets[a], sets[x]) < 0.5 and x > a)
    assert check_near_dup(groups, pairs + [(a, far, 0.9)], clusters, truth, texts)[0]
    assert check_near_dup(groups[1:], pairs, clusters, truth, texts)[0]


def test_metric_lists_match_benchmark_json():
    import run

    bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert tuple(w["name"] for w in bench["workloads"]) == run.WORKLOAD_NAMES
