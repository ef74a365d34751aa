"""Registry invariants — one authoritative count, asserted loudly.

VERDICT r5 found three disagreeing registry counts in the docs (209 /
208 / actual 243). This test is the single source of truth: update
EXPECTED_QUERY_COUNT when adding queries, and keep any prose counts
pointing here instead of restating the number.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXPECTED_QUERY_COUNT = 333  # r12: +agg_isum_wide_boundary (isum fallback-boundary audit)


def test_registry_count_is_authoritative():
    from minimised_impala_spark.queries import load_all
    from minimised_impala_spark.queries.registry import ORACLES, QUERIES

    load_all()
    assert len(QUERIES) == EXPECTED_QUERY_COUNT, (
        f"registry holds {len(QUERIES)} queries; update "
        f"EXPECTED_QUERY_COUNT (and any prose counts) to match"
    )
    assert set(ORACLES) <= set(QUERIES)


def test_priority_names_all_registered():
    # a typo'd name in _PRIORITY would silently burn a driver slot
    import __spark_entry__ as entrymod
    from minimised_impala_spark.queries.registry import QUERIES

    missing = [n for n in entrymod._PRIORITY if n not in QUERIES]
    assert not missing, f"_PRIORITY names not in registry: {missing}"
    assert len(set(entrymod._PRIORITY)) == len(entrymod._PRIORITY), "dupes"


def test_priority_covers_never_verified_first():
    # the first 50 driver slots must include (r12 queue): the rows whose
    # code changed this round — the 26-query SF-proportional
    # dim-broadcast de-hint tier (VERDICT r11 directive #1), the two
    # dedup scale fixes, the two r11 queue-tail carry-overs, and the
    # new never-verified boundary-audit row — guards against queue
    # re-ordering regressions
    import __spark_entry__ as entrymod

    r12_changed = {
        # de-hint tier: part/supplier/customer (and q23 freq/best)
        # broadcast hints dropped; strategy left to stats/AQE
        "tpch_q2", "tpch_q11",
        "tpcds_q3_star", "tpcds_q47_monthly_lag", "tpcds_q53_deviation",
        "tpcds_q59_dow_ratio", "tpcds_q61_promo_ratio",
        "tpcds_q65_brand_share", "tpcds_q98_class_share",
        "tpcds_q27_rollup_star", "tpcds_q68_order_detail",
        "tpcds_q23_frequent_best", "tpcds_q19", "tpcds_q7", "tpcds_q42",
        "tpcds_q43", "tpcds_q46", "tpcds_q52", "tpcds_q55", "tpcds_q63",
        "tpcds_q89", "tpcds_q79", "tpcds_q96",
        "nested_tpch_q18", "nested_tpch_q20", "nested_tpch_q21",
        # dedup scale fixes (directives #5/#6)
        "pipeline_near_dedup", "dedup_embedding",
        # r11 queue-tail carry-overs
        "events_ab_test_report", "dedup_simhash",
        # new, never-verified (directive #8)
        "agg_isum_wide_boundary",
        # mid-r12 sf10-sweep margin fixes (exact accumulators)
        "agg_pivot", "agg_filter_clause",
        "ddl_ctas_roundtrip", "ddl_bucketed_join",
    }
    first50 = set(list(entrymod.queries())[:50])
    assert r12_changed <= first50, f"changed cut: {r12_changed - first50}"
    # the remaining slots rotate onto the OLDEST rows (r5-era block);
    # spot-pin its head so the rotation tail is not silently dropped
    rotation_head = {"dedup_embedding_lsh", "udf_java_jar",
                     "agg_boolean_suite", "dialect_broadcast_hint"}
    assert rotation_head <= first50, f"rotation cut: {rotation_head - first50}"


# -- copied code ------------------------------------------------------------
# A window is 8 consecutive code lines of the package, each stripped, with
# blank lines, comment lines and lines that only close a bracket or a
# string skipped, and 150 characters or more in all. A window found twice
# is a copy: both places should call one shared definition. A copy kept on
# purpose is listed under the top-level definitions that hold it, with the
# reason a shared definition would have to branch on its caller.
WINDOW_LINES = 8
WINDOW_CHARS = 150
NOT_CODE = {")", "),", "]", "}", '"""', 'oracle="""'}
COPIES_KEPT: dict[frozenset[str], str] = {}


def _owner_spans(source: str) -> list[tuple[int, int, str]]:
    import ast

    spans = []
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            spans.append((first, node.end_lineno, node.name))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            target = node.targets[0] if isinstance(node, ast.Assign) else node.target
            spans.append((node.lineno, node.end_lineno, getattr(target, "id", "?")))
    return spans


def copied_windows() -> dict[frozenset[str], int]:
    """{the definitions holding a copied window: windows copied among them}."""
    from collections import defaultdict
    from pathlib import Path

    import minimised_impala_spark

    pkg = Path(minimised_impala_spark.__file__).parent
    where = defaultdict(set)
    for path in sorted(pkg.rglob("*.py")):
        source = path.read_text()
        spans = _owner_spans(source)
        code = [
            (i, s)
            for i, s in enumerate((ln.strip() for ln in source.splitlines()), 1)
            if s and not s.startswith("#") and s not in NOT_CODE
        ]
        for k in range(len(code) - WINDOW_LINES + 1):
            window = tuple(s for _, s in code[k:k + WINDOW_LINES])
            if sum(map(len, window)) < WINDOW_CHARS:
                continue
            line = code[k][0]
            owner = next((n for a, b, n in spans if a <= line <= b), "<module>")
            where[window].add((f"{path.relative_to(pkg)}:{owner}", line))
    copies = defaultdict(int)
    for places in where.values():
        if len(places) > 1:
            copies[frozenset(owner for owner, _ in places)] += 1
    return dict(copies)


def test_no_copied_code():
    copies = copied_windows()
    unlisted = sorted(
        (sorted(owners), n) for owners, n in copies.items() if owners not in COPIES_KEPT
    )
    assert not unlisted, "copied windows; share one definition:\n" + "\n".join(
        f"{n} windows in {', '.join(owners)}" for owners, n in unlisted
    )
    stale = [sorted(owners) for owners in COPIES_KEPT if owners not in copies]
    assert not stale, f"COPIES_KEPT entries that no longer match a copy: {stale}"
