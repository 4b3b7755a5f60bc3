"""Output checkers: compare one op's output with the planted truth.

Each checker takes plain Python data (the benchmark converts Spark rows
before calling it) and returns a list of mismatch messages; an empty list
means the op's output is correct.  The checkers run after the op's timer
has stopped.
"""

from __future__ import annotations

from gen import SPARK_OF, jaccard, shingle_set


def check_drift(
    metadata: list[tuple[str, str]], table_ddl: str | None, spark_table_ddl: str | None,
    diff_rows: list[tuple], column_ddl: str | None, spark_column_ddl: str | None,
    truth: dict,
) -> list[str]:
    """Proposed types equal the planted ones and both CREATE TABLE
    statements carry them; diff rows and reasons equal the planted drift
    (so no alias-equal pair is reported); both dialects add exactly the
    missing columns."""
    errors = []
    want = [tuple(c) for c in truth["columns"]]
    if list(metadata) != want:
        bad = [(g, w) for g, w in zip(metadata, want) if g != w]
        errors.append(f"proposed types differ: {bad or (len(metadata), len(want))}")
    lines = {line.lstrip(", ") for line in (table_ddl or "").splitlines()}
    spark_lines = {line.strip().rstrip(",") for line in (spark_table_ddl or "").splitlines()}
    for name, typ in want:
        typ = "varchar(256)" if typ == "notype" else typ
        if f'"{name}" {typ}' not in lines:
            errors.append(f"table DDL lacks {name} {typ}")
        if f"{name} {SPARK_OF[typ]}" not in spark_lines:
            errors.append(f"Spark table DDL lacks {name} {SPARK_OF[typ]}")
    got = sorted((list(r) for r in diff_rows), key=lambda r: r[0])
    if got != truth["diffs"]:
        want = {tuple(r) for r in truth["diffs"]}
        have = {tuple(r) for r in got}
        errors.append(f"diff rows differ: extra {sorted(have - want, key=str)} "
                      f"missing {sorted(want - have, key=str)}")
    alters = sorted(column_ddl.splitlines()) if column_ddl else []
    if alters != truth["column_ddl"]:
        errors.append(f"column DDL differs: {alters}")
    added = []
    if spark_column_ddl:
        inner = spark_column_ddl[spark_column_ddl.index("(") + 1: spark_column_ddl.rindex(")")]
        added = sorted(part.strip() for part in inner.split(","))
    if added != truth["spark_column_ddl"]:
        errors.append(f"Spark column DDL differs: {added}")
    return errors


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Minimum id of each id's connected component over ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_near_dup(
    hash_groups: list[tuple[int, int]], pairs: list[tuple[int, int, float]],
    clusters: list[tuple[int, int]], truth: dict, texts: dict[int, str],
    threshold: float = 0.5,
) -> tuple[list[str], int]:
    """Exact-copy groups, pair Jaccards and cluster ids against the truth.

    ``hash_groups`` holds (keep_id, dup_count) of every content hash.
    Every reported pair's Jaccard is recomputed from the doc texts and must
    reach ``threshold``; every cluster id must be the minimum id of its
    component.  Returns the mismatches and how many planted near-dup pairs
    were reported (the numerator of the recall)."""
    errors = []
    dup_groups = sorted((k, c) for k, c in hash_groups if c > 1)
    want_groups = sorted((g[0], len(g)) for g in truth["exact_copy_groups"])
    if dup_groups != want_groups:
        errors.append(f"exact-copy groups differ: {len(dup_groups)} vs {len(want_groups)}")
    n_distinct = truth["docs"] - sum(len(g) - 1 for g in truth["exact_copy_groups"])
    if len(hash_groups) != n_distinct:
        errors.append(f"{len(hash_groups)} content hashes, want {n_distinct}")

    shingles: dict[int, frozenset] = {}
    for a, b, j in pairs:
        if not a < b:
            errors.append(f"pair ({a}, {b}) not ordered")
            continue
        for x in (a, b):
            if x not in shingles:
                shingles[x] = shingle_set(texts[x])
        true_j = jaccard(shingles[a], shingles[b])
        if true_j < threshold or abs(true_j - j) > 1e-4:
            errors.append(f"pair ({a}, {b}) reported {j}, true Jaccard {true_j:.4f}")

    want_clusters = components([(a, b) for a, b, _ in pairs])
    got_clusters = dict(clusters)
    if len(got_clusters) != len(clusters) or got_clusters != want_clusters:
        errors.append("cluster ids are not the minimum id of each component")

    reported = {(a, b) for a, b, _ in pairs}
    found = sum(1 for a, b in truth["near_dup_pairs"] if (a, b) in reported)
    return errors, found
