"""Seeded input generators with planted truth for the workloads.

Pure Python, numpy and pyarrow: nothing here starts Spark, so the
generators are tested on their own.  Every generator takes a
``numpy.random.Generator`` built from the run's seed, writes its input
files and returns the planted truth as JSON-able data; the caller stores
that truth next to the inputs as a ``*.truth.json`` sidecar.  The library
under test only ever sees the data files and the catalog tables.
"""

from __future__ import annotations

import json
from decimal import Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
EPOCH_DAY = np.datetime64("2015-01-01", "D")

# Spark SQL type the Spark-dialect DDL renders for each proposed type.
SPARK_OF = {
    "int4": "INT", "int8": "BIGINT", "float8": "DOUBLE", "bool": "BOOLEAN",
    "date": "DATE", "timestamp": "TIMESTAMP", "varchar(256)": "STRING",
    "varchar(65535)": "STRING", "notype": "STRING",
}


def write_truth(path: Path, truth: dict) -> None:
    path.write_text(json.dumps(truth, sort_keys=True))


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words of 2-9 letters."""
    seen: dict[str, None] = {}
    while len(seen) < size:
        lengths = rng.integers(2, 10, size - len(seen))
        letters = rng.integers(97, 123, int(lengths.sum()), dtype=np.uint8).tobytes().decode()
        start = 0
        for n in lengths.tolist():
            seen[letters[start:start + n]] = None
            start += n
    return list(seen)


def phrases(rng: np.random.Generator, vocab: list[str], k: int, max_len: int) -> list[str]:
    """``k`` free-text values of 1..``max_len`` characters, some holding
    ``|`` or a comma."""
    seps = (" ", " ", " ", ", ", " | ")
    out = []
    for target in rng.integers(1, max_len + 1, k):
        words = [vocab[i] for i in rng.integers(0, len(vocab), target // 3 + 1)]
        text = words[0]
        for w in words[1:]:
            if len(text) >= target:
                break
            text += seps[int(rng.integers(0, len(seps)))] + w
        out.append(text[:target].rstrip() or "x")
    return out


def _null(rng: np.random.Generator, values: list, share: float, keep: int = 0) -> list:
    """``values`` with a ``share`` of them nulled, except the first ``keep``."""
    if share <= 0:
        return values
    mask = rng.random(len(values)) < share
    mask[:keep] = False
    return [None if m else v for v, m in zip(values, mask.tolist())]


def _days(rng: np.random.Generator, n: int):
    """(year, month, day) lists of ``n`` random days in 2015-2024."""
    d = EPOCH_DAY + rng.integers(0, 3650, n)
    months = d.astype("datetime64[M]")
    year = (months.astype("datetime64[Y]").astype(int) + 1970).tolist()
    month = (months.astype(int) % 12 + 1).tolist()
    day = ((d - months.astype("datetime64[D]")).astype(int) + 1).tolist()
    return year, month, day


# ------------------------------------------------------------- drift_check
def _drift_values(rng: np.random.Generator, kind: str, n: int,
                  text: dict[int, list[str]]):
    """(arrow type, expected proposed type, values) of one column.  The
    ``*_text`` kinds are strings the inference has to probe: non-ISO date
    and timestamp text, ``t/f`` text, numeric text, and free text either
    side of the 240-character varchar cut."""
    if kind == "int":
        return pa.int32(), "int4", rng.integers(-100000, 100001, n).tolist()
    if kind == "long_small":  # int64 storage, int4 range
        return pa.int64(), "int4", rng.integers(0, 10**6, n).tolist()
    if kind == "long_big":
        vals = rng.integers(-10**12, 10**12, n).tolist()
        vals[0] = 10**12
        return pa.int64(), "int8", vals
    if kind == "flag01":  # 0/1 integers read as bool
        vals = rng.integers(0, 2, n).tolist()
        vals[0], vals[1] = 0, 1
        return pa.int64(), "bool", vals
    if kind == "double":
        vals = rng.uniform(-1e4, 1e4, n).tolist()
        vals[0] = 0.5
        return pa.float64(), "float8", vals
    if kind == "double_whole":  # integral doubles demote to int
        return pa.float64(), "int4", rng.integers(0, 10000, n).astype(float).tolist()
    if kind == "decimal":
        vals = [Decimal(f"{a}.{b:02d}") for a, b in zip(
            rng.integers(0, 10**6, n).tolist(), rng.integers(0, 100, n).tolist())]
        vals[0] = Decimal("1.25")
        return pa.decimal128(12, 2), "float8", vals
    if kind in ("string", "text_240", "long_text"):
        pool = text[{"string": 80, "text_240": 240, "long_text": 400}[kind]]
        vals = [pool[i] for i in rng.integers(0, len(pool), n)]
        if kind == "string":
            return pa.string(), "varchar(256)", vals
        if kind == "text_240":
            vals[0] = "a" * 239 + "z"
            return pa.string(), "varchar(256)", vals
        vals[0] = "b" * 241 + " tail"
        return pa.string(), "varchar(65535)", vals
    if kind == "date_text":  # MMM d, yyyy
        y, m, d = _days(rng, n)
        return pa.string(), "date", [f"{MONTHS[b - 1]} {c}, {a}" for a, b, c in zip(y, m, d)]
    if kind == "ts_text":  # M/d/yyyy H:m
        y, m, d = _days(rng, n)
        hm = rng.integers(0, 1440, n).tolist()
        vals = [f"{b}/{c}/{a} {t // 60}:{t % 60}" for a, b, c, t in zip(y, m, d, hm)]
        vals[0] = "1/2/2020 13:45"
        return pa.string(), "timestamp", vals
    if kind == "partial_date_text":  # MM/yyyy or MMM yyyy: not a date
        y, m, d = _days(rng, n)
        return pa.string(), "varchar(256)", [
            f"{b:02d}/{a}" if c % 2 else f"{MONTHS[b - 1]} {a}" for a, b, c in zip(y, m, d)]
    if kind == "tf_text":
        vals = ["tfTF"[i] for i in rng.integers(0, 4, n)]
        return pa.string(), "bool", vals
    if kind == "int_text":  # yyyymmdd digits: numeric before date
        y, m, d = _days(rng, n)
        return pa.string(), "int4", [f"{a}{b:02d}{c:02d}" for a, b, c in zip(y, m, d)]
    if kind in ("ts", "ts_midnight"):
        days = EPOCH_DAY + rng.integers(0, 3650, n)
        us = days.astype("datetime64[us]")
        if kind == "ts":
            us = us + rng.integers(0, 86400, n).astype("timedelta64[s]")
            us[0] = np.datetime64("2020-01-02T13:45:00", "us")
            return pa.timestamp("us"), "timestamp", pa.array(us)
        return pa.timestamp("us"), "date", pa.array(us)
    if kind == "bool":
        return pa.bool_(), "bool", (rng.random(n) < 0.5).tolist()
    if kind == "all_null":
        return pa.string(), "notype", [None] * n
    raise ValueError(kind)


# Column kinds in the order tables draw them, cyclically from a per-table
# start.  Every third kind is probed text, so any run of columns mixes typed
# and probed columns alike and tables of equal cell count cost alike.
DRIFT_KINDS = ("int", "date_text", "double", "long_small", "tf_text", "bool",
               "decimal", "ts_text", "flag01", "long_big", "int_text", "string",
               "ts", "long_text", "double_whole", "all_null", "partial_date_text",
               "ts_midnight", "text_240")

# Deployed Spark types in the same diff class as each proposed type.  The
# alias spellings (INTEGER for int4, LONG for int8, VARCHAR/CHAR for text,
# TIMESTAMP_NTZ for timestamp) must never be reported.
_SAME_CLASS = {
    "int4": ("INT", "INTEGER"), "int8": ("BIGINT", "LONG"),
    "float8": ("DOUBLE",), "bool": ("BOOLEAN",), "date": ("DATE",),
    "timestamp": ("TIMESTAMP", "TIMESTAMP_NTZ"),
    "varchar(256)": ("STRING", "VARCHAR(64)", "CHAR(8)"),
    "notype": ("STRING",),
}
# A deployed Spark type in another class than the proposed one.  The
# catalog lifts every Spark string to varchar(256), so a long-text column
# always differs from its twin.
_OTHER_CLASS = {
    "int4": "BIGINT", "int8": "INT", "float8": "INT", "bool": "INT",
    "date": "TIMESTAMP", "timestamp": "DATE", "varchar(256)": "INT",
    "varchar(65535)": "STRING",
}
# Redshift-vocabulary name the catalog lifts each deployed Spark type to.
_DEPLOYED_AS = {
    "INT": "int4", "INTEGER": "int4", "BIGINT": "int8", "LONG": "int8",
    "DOUBLE": "float8", "BOOLEAN": "bool", "DATE": "date",
    "TIMESTAMP": "timestamp", "TIMESTAMP_NTZ": "timestamp",
    "STRING": "varchar(256)", "VARCHAR(64)": "varchar(256)",
    "CHAR(8)": "varchar(256)",
}


def drift_table(
    rng: np.random.Generator, path: Path, schema: str, table: str,
    n_rows: int, n_cols: int, first_kind: int, text: dict[int, list[str]],
) -> dict:
    """One parquet table plus the DDL of its drifted deployed twin.

    Column ``j`` is of kind ``DRIFT_KINDS[(first_kind + j) % 19]``;
    ``text`` maps a maximum length (80, 240, 400) to a pool of free-text
    values.

    Returns the planted truth: expected proposed types, the ``CREATE
    TABLE`` statement of the twin, the expected diff rows and the expected
    column DDL in both dialects."""
    fields, arrays, columns = [], [], []
    for j in range(n_cols):
        kind = DRIFT_KINDS[(first_kind + j) % len(DRIFT_KINDS)]
        arrow_t, proposed, vals = _drift_values(rng, kind, n_rows, text)
        name = f"{kind}_{j}"
        if kind == "flag01" and j % 2:
            name, proposed = f"flag_{j}_id", "int4"  # *_id escapes the bool rule
        if j % 3 == 0 and kind in ("int", "double", "string", "bool", "tf_text", "date_text"):
            vals = _null(rng, vals, 0.3, keep=2)
        fields.append(pa.field(name, arrow_t))
        arrays.append(vals if isinstance(vals, pa.Array) else pa.array(vals, type=arrow_t))
        columns.append([name, proposed])
    pq.write_table(pa.Table.from_arrays(arrays, schema=pa.schema(fields)), path)

    deployed, diffs = [], []
    for name, proposed in columns:
        roll = float(rng.random())
        if roll < 0.15:  # new in the file: MISSING, unless all-null
            if proposed != "notype":
                diffs.append([name, proposed, None, "MISSING"])
            continue
        if (roll < 0.3 or proposed not in _SAME_CLASS) and proposed in _OTHER_CLASS:
            spark_t = _OTHER_CLASS[proposed]  # retyped
            diffs.append([name, proposed, _DEPLOYED_AS[spark_t], "TYPE MISMATCH"])
        else:  # same class, often under an alias spelling
            same = _SAME_CLASS[proposed]
            spark_t = same[int(rng.integers(0, len(same)))]
        deployed.append((name, spark_t))
    for k in range(int(rng.integers(1, 4))):  # gone from the file
        spark_t = ("INT", "STRING", "DOUBLE", "TIMESTAMP")[int(rng.integers(0, 4))]
        deployed.append((f"dropped_{k}", spark_t))
        diffs.append([f"dropped_{k}", None, _DEPLOYED_AS[spark_t], "DEPRECATED"])
    missing = [(f, p) for f, p, _, reason in diffs if reason == "MISSING"]
    return {
        "rows": n_rows,
        "columns": columns,
        "deployed_ddl": (
            f"CREATE TABLE {schema}.{table} ("
            + ", ".join(f"{n} {t}" for n, t in deployed) + ") USING parquet"
        ),
        "diffs": sorted(diffs, key=lambda d: d[0]),
        "column_ddl": sorted(
            f"ALTER TABLE {schema}.{table} ADD COLUMN {f} {p};" for f, p in missing
        ),
        "spark_column_ddl": sorted(f"{f} {SPARK_OF[p]}" for f, p in missing),
    }


# ----------------------------------------------------- near_dup_curation
def zipf_probs(size: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, size + 1) ** s
    return w / w.sum()


def shingle_set(text: str, n: int = 3) -> frozenset[str]:
    """Distinct word n-grams as ``ops.dedup.shingles`` documents them:
    split on single spaces, windows of ``n`` words."""
    words = text.split(" ")
    last = max(len(words) - n, 0)
    return frozenset(" ".join(words[i:i + n]) for i in range(last + 1)) - {""}


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def doc_batch(
    rng: np.random.Generator, path: Path, n_docs: int, id_base: int,
    vocab: list[str], probs: np.ndarray, parts: int,
    near_share: float = 0.2, copy_share: float = 0.05,
) -> tuple[dict, dict[int, str]]:
    """A batch of Zipf-vocabulary docs with planted near-dups and exact
    copies, written as ``parts`` parquet files under ``path``.

    Each planted group is one base doc plus at most one near-dup (3% of its
    words replaced) and at most one exact copy.  Returns the planted truth
    (every within-group pair whose true shingle Jaccard is >= 0.5, and the
    exact-copy groups) and the text of every doc id, from which the checker
    recomputes the Jaccard of any reported pair."""
    n_near = int(n_docs * near_share)
    n_copy = int(n_docs * copy_share)
    n_base = n_docs - n_near - n_copy
    lengths = rng.integers(50, 401, n_base)
    flat = rng.choice(len(vocab), int(lengths.sum()), p=probs)
    texts, start = [], 0
    for ln in lengths.tolist():
        texts.append(" ".join(vocab[i] for i in flat[start:start + ln]))
        start += ln
    group_of = list(range(n_base))
    for g in rng.choice(n_base, n_near, replace=False).tolist():
        words = texts[g].split(" ")
        k = max(1, round(0.03 * len(words)))
        for pos, w in zip(rng.choice(len(words), k, replace=False).tolist(),
                          rng.integers(0, len(vocab), k).tolist()):
            words[pos] = vocab[w]
        texts.append(" ".join(words))
        group_of.append(g)
    for g in rng.choice(n_base, n_copy, replace=False).tolist():
        texts.append(texts[g])
        group_of.append(g)
    # ids carry no hint of the planted groups
    doc_id = (id_base + rng.permutation(n_docs)).tolist()

    members: dict[int, list[int]] = {}
    for src, g in enumerate(group_of):
        members.setdefault(g, []).append(src)
    pairs, copies = [], []
    for group in members.values():
        if len(group) < 2:
            continue
        sets = {src: shingle_set(texts[src]) for src in group}
        for i, a in enumerate(group):
            for b in group[i + 1:]:
                if jaccard(sets[a], sets[b]) >= 0.5:
                    pairs.append(sorted((doc_id[a], doc_id[b])))
        by_text: dict[str, list[int]] = {}
        for src in group:
            by_text.setdefault(texts[src], []).append(doc_id[src])
        copies.extend(sorted(ids) for ids in by_text.values() if len(ids) > 1)

    path.mkdir(parents=True, exist_ok=True)
    step = -(-n_docs // parts)
    for p in range(parts):
        lo, hi = p * step, min((p + 1) * step, n_docs)
        pq.write_table(
            pa.table({"doc_id": pa.array(doc_id[lo:hi], pa.int64()),
                      "text": pa.array(texts[lo:hi], pa.string())}),
            path / f"part-{p:05d}.parquet",
        )
    truth = {
        "docs": n_docs,
        "near_dup_pairs": sorted(pairs),
        "exact_copy_groups": sorted(copies),
    }
    return truth, {doc_id[src]: texts[src] for src in range(n_docs)}
