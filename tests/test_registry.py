"""Driver-contract registry integrity: queries() and oracle_sql() must stay
mutually consistent, and every oracle must remain valid DuckDB SQL.

These invariants are what the per-round CORRECTNESS gate builds on; a
registry edit that breaks one of them (a renamed query orphaning its
oracle, an oracle whose SQL silently rots after a refactor) would
otherwise surface only in the driver's run, a round later.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# xxhash64 signature outputs DuckDB cannot replay — the ONLY entries allowed
# to lack an oracle (each covered by oracle-checked companion contracts; see
# SURVEY section 8's terminal decision).
ROWS_ONLY = {"simhash_signatures", "simhash_near_dup"}


def test_every_query_has_oracle_or_is_known_rows_only():
    qs, os_ = entry.queries(), entry.oracle_sql()
    missing = {n for n in qs if n not in os_}
    assert missing == ROWS_ONLY
    orphans = set(os_) - set(qs)
    assert not orphans, f"oracles without a query: {sorted(orphans)}"


def test_registry_size_and_window():
    qs = list(entry.queries())
    assert len(qs) >= 150  # only grows; shrinking loses driver coverage
    window = qs[:50]
    assert len(set(window)) == 50
    # r14 rotation: executes the pre-order committed in round 13 — the six
    # round-13 additions (never-anchored), the five r08 slots the r13
    # pins displaced, the r08 remainder, and the r09 cohort head as
    # tail-fill.  No policy-(b) pins: the round-14 _assign_nearest change
    # is branch-gated above a super-centroid budget no registry query
    # reaches (law-tested bit-identical below it), and the other
    # code-touched queries are round-13 additions already in the window
    for member in (
        "streaming_late_alert",       # r13-addition backlog head
        "centroid_assign_join",       # 2nd r13 addition
        "quantized_assign_agreement",  # 6th r13 addition
        "parts_supplier_count",       # displaced r08 head
        "sales_opportunity",          # 5th displaced r08 slot
        "cheapest_part_per_type",     # r08 remainder head
        "epoch_shuffle_docs",         # last r08 remainder entry
        "nfkc_normalize_docs",        # r09 tail-fill head
        "top_events_per_user",        # last r09 tail-fill entry
    ):
        assert member in window, member
    # freshly r12/r13-anchored entries never re-enter (except explicit
    # policy-(b) pins); rows-only queries are permanently
    # window-INELIGIBLE (driver can only score err:no_oracle)
    for rotated_out in (
        # the r13 window's 50 entries are now the freshest anchors
        "dedup_token_survivorship", "mix_weights_post_dedup",
        "correlation_matrix_lineitem", "streaming_ks_monitor",
        "dq_expectations_orders", "calibration_bins_docs",
        "top_supplier", "semantic_dedup", "topic_share_balance",
        "kmeans_inertia_ok",
        # r11/r12 cohorts stay parked
        "lsh_recall_panel", "packing_length_sweep",
        "dedup_rate_drift_sources", "lsh_config_sweep",
        "minhash_dup_pairs", "incremental_near_dedup",
    ):
        assert rotated_out not in window, rotated_out
    assert not (ROWS_ONLY & set(qs[:100])), (
        "rows-only queries burn a window slot the driver can only score "
        "err:no_oracle — park them at the registry tail"
    )


def test_driver_window_utilization():
    """Machine-check of the rotation docstring's claim: at 50 window slots
    per round, every registry entry must either already hold a driver
    CORRECTNESS anchor (a row in some committed CORRECTNESS_r*.json) or sit
    within the first 100 registry positions (reached by the driver gate
    within <= 2 rounds).  Fails when a registry addition lands somewhere it
    would NEVER reach the driver gate — the round-6 failure mode (68
    never-anchored queries) becoming structurally impossible instead of a
    prose policy."""
    import json

    root = Path(__file__).resolve().parent.parent
    anchored: set[str] = set()
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        anchored |= set(json.loads(path.read_text()))
    qs = list(entry.queries())
    reachable = set(qs[:100]) | anchored
    stranded = [n for n in qs if n not in reachable]
    assert not stranded, (
        f"{len(stranded)} queries can never reach the driver gate within 2 "
        f"rounds: {stranded} — rotate them into the first 100 registry "
        "positions or shrink the backlog before adding more"
    )


def test_planned_r15_window_composition():
    """Positions 51-100 are the PLANNED r15 window (see the queries()
    docstring): never-driver-anchored round-14 additions first, then the
    r09-anchored cohort remainder, and the r10-anchored cohort head as
    tail-fill — i.e. next round's rotation is already encoded and a
    drive-by registry edit can't silently push debt or stale anchors
    past it.  Tail-fill entries are pushed out as r14 additions land,
    so the block must be ORDERED: never-anchored, then <= r09, then r10
    tail-fill — and nothing newer than r10 ever appears.  Rows-only
    queries are excluded from positions 1-100 entirely (asserted in
    test_registry_size_and_window)."""
    import json

    root = Path(__file__).resolve().parent.parent
    newest: dict[str, str] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        rnd = path.stem.split("_r")[-1]
        for k in json.loads(path.read_text()):
            newest[k] = max(newest.get(k, "00"), rnd)
    qs = list(entry.queries())
    planned = qs[50:100]
    assert len(planned) == 50
    bad = {n: newest[n] for n in planned if newest.get(n, "00") > "10"}
    assert not bad, (
        f"planned r15 window holds fresh-anchored entries {bad} — move them "
        "behind position 100 and pull debt/stale entries forward"
    )
    # ordered: never-anchored additions, then the r09 remainder, then
    # r10 tail-fill — monotone by (is-anchored, anchor round >= 10)
    phases = [
        0 if newest.get(n, "00") == "00"
        else (1 if newest[n] <= "09" else 2)
        for n in planned
    ]
    assert phases == sorted(phases), (
        "planned r15 window is mis-ordered: never-anchored additions must "
        "precede the r09 remainder, r10 tail-fill must come last — got "
        f"{list(zip(planned, phases))}"
    )


def test_no_oracle_emits_decimal_columns():
    """EXECUTE every oracle in DuckDB and assert no result column is
    decimal/hugeint (arrow schema — the DB-API cursor description reports
    the generic 'NUMBER' and can never flag this).  DuckDB promotes
    integer sum() to HUGEINT/decimal128; the driver's hash compare
    canonicalizes that differently from Spark int64 EVEN WHEN VALUES MATCH
    (round 7 lost 5 window anchors this way, and decimal-on-both-sides
    also diverges — decimal itself is the hazard).  CAST AS BIGINT in the
    oracle.  This turns the bug class into a pre-commit failure instead of
    a lost driver round."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    bad = {}
    for name, sql in entry.oracle_sql().items():
        try:
            schema = con.sql(sql).arrow().schema
        except Exception as exc:
            bad[name] = f"execution error: {str(exc).splitlines()[0]}"
            continue
        risky = [f.name for f in schema if pa.types.is_decimal(f.type)]
        if risky:
            bad[name] = f"decimal cols {risky}"
    assert not bad, (
        f"oracles whose DuckDB result types would hash-diverge from Spark "
        f"in the driver gate: {bad}"
    )


def test_all_oracles_parse_in_duckdb():
    """EXPLAIN every oracle against the real table views: catches SQL
    syntax/semantic rot (renamed columns, dialect slips) without paying for
    execution."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    bad = {}
    for name, sql in entry.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as exc:
            bad[name] = str(exc).splitlines()[0]
    assert not bad, f"oracles no longer valid DuckDB SQL: {bad}"


def test_paragraph_minhash_defaults_match_oracle_constants():
    """_PARAGRAPH_MINHASH_SQL hardcodes the op's DEFAULTS (seg_words=8,
    16 hashes, 4 bands, 3-gram shingles, 0.8 verify) because the banded
    SQL cannot be cleanly parameterized — pin the defaults so a drive-by
    signature change fails here instead of hash-failing a driver round
    later.  (The other round-9 oracles interpolate shared constants.)"""
    import inspect

    from spark_auto_schema.ops import dedup

    sig = inspect.signature(dedup.paragraph_minhash_pairs)
    got = {
        k: v.default
        for k, v in sig.parameters.items()
        if v.default is not inspect.Parameter.empty
    }
    assert got["seg_words"] == 8
    assert got["num_hashes"] == 16
    assert got["bands"] == 4
    assert got["shingle_n"] == 3
    assert got["verify_threshold"] == 0.8


def test_family_split_entry_stays_thin():
    """Every query/oracle pair lives in spark_auto_schema/registry/<family>.py;
    __spark_entry__.py holds only entry() and the queries()/oracle_sql()
    assembly, which names each query through its family module
    (``curation._q_filter_funnel``).  Pin that so new operators land in a
    family module, not back in the monolith, that the entry file imports
    family modules and never their names (a name import is a second place
    to edit per query), and that each family module stays independently
    importable."""
    import ast
    import importlib

    src = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    tree = ast.parse(src.read_text())
    top_defs = [
        n.name for n in tree.body if isinstance(n, ast.FunctionDef)
    ]
    assert sorted(top_defs) == ["entry", "oracle_sql", "queries"], (
        "new helpers belong in spark_auto_schema/registry/<family>.py, "
        f"found in __spark_entry__.py: {top_defs}"
    )

    pkg = src.parent / "spark_auto_schema" / "registry"
    name_imports = [
        f"{n.module}.{a.name}"
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
        and (n.module or "").startswith("spark_auto_schema.registry")
        for a in n.names
        if n.module != "spark_auto_schema.registry"
        or not (pkg / f"{a.name}.py").is_file()
    ]
    assert not name_imports, (
        "__spark_entry__.py imports registry modules, not their names: "
        f"{name_imports[:5]}"
    )

    families = sorted(p.stem for p in pkg.glob("*.py") if p.stem != "__init__")
    for fam in families:
        mod = importlib.import_module(f"spark_auto_schema.registry.{fam}")
        assert mod.__doc__, fam


def test_family_modules_define_disjoint_names():
    """Each top-level name of the registry is defined by one family
    module, so a name read in a test or a sibling module has one home and
    a grep finds it once.  Pin disjointness, and pin that the
    cross-module import graph stays acyclic so the package keeps
    importing."""
    import ast
    import collections

    pkg = Path(__file__).resolve().parent.parent / "spark_auto_schema" / "registry"
    owners: dict[str, str] = {}
    dups = collections.defaultdict(set)
    edges = collections.defaultdict(set)
    mods = sorted(p.stem for p in pkg.glob("*.py") if p.stem != "__init__")
    for m in mods:
        tree = ast.parse((pkg / f"{m}.py").read_text())
        for node in tree.body:
            names = []
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [
                    n.id
                    for t in node.targets
                    for n in ast.walk(t)
                    if isinstance(n, ast.Name)
                ]
            for nm in names:
                if nm in owners:
                    dups[nm] = {owners[nm], m}
                owners[nm] = m
            if isinstance(node, ast.ImportFrom) and node.module and (
                node.module.startswith("spark_auto_schema.registry.")
            ):
                edges[m].add(node.module.rsplit(".", 1)[1])
    assert not dups, f"name defined in two family modules: {dict(dups)}"

    seen: set[str] = set()

    def visit(m, path):
        assert m not in path, f"registry import cycle: {path + [m]}"
        if m in seen:
            return
        seen.add(m)
        for dep in edges[m]:
            visit(dep, path + [m])

    for m in mods:
        visit(m, [])
