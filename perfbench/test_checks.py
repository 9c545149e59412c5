"""The benchmark's own tests: a corrupted expected output must fail the
output checks and make the fail ratio non-zero.

    python3 -m pytest perfbench/test_checks.py -q

No Spark session is needed: the checks compare collected rows in Python.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from har2tree_spark.datagen import scenario_docs  # noqa: E402
from har2tree_spark.oracle import pycascade  # noqa: E402
from perfbench import checks, inputs  # noqa: E402


def _oracle_rows(docs):
    return [tuple(r[c] for c in checks.JOIN_COLS) for r in pycascade.cascade_docs(docs)]


def test_multiset_equal_rows_pass():
    rows = _oracle_rows(scenario_docs())
    assert checks.multiset_diff("exact", list(reversed(rows)), rows) == []


def test_corrupted_expected_rows_fail():
    rows = _oracle_rows(scenario_docs())
    bad = list(rows)
    doc, idx, parent, kind, prio, depth = bad[1]
    bad[1] = (doc, idx, parent + 1, kind, prio, depth)
    problems = checks.multiset_diff("exact", rows, bad)
    assert problems and "1 unexpected rows" in problems[0]
    # a duplicated row is a difference too: the comparison is a multiset one
    assert checks.multiset_diff("exact", rows + rows[:1], rows)


def _report(expect):
    """The report rows a correct program produces for ``expect``."""
    rows = []
    for doc, e in expect.items():
        if e is None:
            rows.append({"doc_id": doc, **{f: None for f in checks.REPORT_FIELDS},
                         "n_entries": 0})
        else:
            rows.append({"doc_id": doc, **{f: e[f] for f in checks.REPORT_FIELDS}})
    return rows


def test_har_report_matches_generator():
    _, expect = inputs.har_captures(seed=3, n_captures=30, corrupt_every=7)
    assert any(e is None for e in expect.values())
    assert checks.har_report_diff(_report(expect), expect) == []


def test_har_corrupted_expectation_fails():
    _, expect = inputs.har_captures(seed=3, n_captures=30, corrupt_every=7)
    rows = _report(expect)
    doc = next(d for d, e in expect.items() if e)
    corrupted = {**expect, doc: {**expect[doc], "total_cookies_sent": 99}}
    assert checks.har_report_diff(rows, corrupted)
    # a corrupt capture that is not quarantined fails as well
    bad = next(d for d, e in expect.items() if e is None)
    rows_bad = [r if r["doc_id"] != bad else {**r, "n_entries": 5} for r in rows]
    assert checks.har_report_diff(rows_bad, expect)
    # so does a missing or a duplicated report row
    assert checks.har_report_diff(rows[1:], expect)
    assert checks.har_report_diff(rows + rows[:1], expect)


def test_failed_check_makes_fail_ratio_nonzero():
    assert checks.outcome(attempted=5, raised=0, problems=[]) == (True, 0)
    correct, failed = checks.outcome(attempted=5, raised=0, problems=["exact: 1 row"])
    assert not correct and failed / 5 == 1.0
    assert checks.outcome(attempted=5, raised=2, problems=[]) == (False, 2)


def test_generators_are_seeded():
    assert inputs.mega_docs(4, 2, 50, 60) == inputs.mega_docs(4, 2, 50, 60)
    assert inputs.mega_docs(4, 2, 50, 60) != inputs.mega_docs(5, 2, 50, 60)
    a, b = inputs.events_table(4, 300, 20), inputs.events_table(4, 300, 20)
    assert inputs.events_fingerprint(a) == inputs.events_fingerprint(b)
    assert inputs.har_captures(4, 6, 3) == inputs.har_captures(4, 6, 3)


def test_tree_and_tile_checks_catch_corruption():
    rows = _oracle_rows(scenario_docs())
    live = [(r[0], r[1]) for r in rows]
    assert checks.tree_diff(live, rows) == []
    # a span attached twice, a span lost, a second root
    assert checks.tree_diff(live, rows + rows[1:2])
    assert checks.tree_diff(live, rows[:-1])
    doc, idx, _, kind, prio, depth = rows[1]
    assert checks.tree_diff(live, [rows[0], (doc, idx, -1, kind, prio, depth), *rows[2:]])
    assert checks.tile_diff(7, {3: 7, 6: 7}, (3, 6)) == []
    assert checks.tile_diff(7, {3: 7, 6: 6}, (3, 6))
    assert checks.tile_diff(0, {}, (3, 6))
