"""Driver-contract invariants for __spark_entry__.

The driver value-checks the FIRST 50 entries of ``queries()`` in dict
order (CORRECTNESS_r{N}.json).  Rounds 3-4 showed a static priority
list rots between rounds; the order is now computed from the
CORRECTNESS_r*.json history at import time.  These tests freeze the
rotation invariants so a future registration can't silently starve the
check again.
"""

import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

entry = importlib.import_module("__spark_entry__")


def test_red_then_never_checked_lead_the_window():
    hist = entry._driver_history()
    names = list(entry.queries())
    reds = [n for n in names if hist.get(n, (0, 0, False))[2]]
    never = [n for n in names if n not in hist]
    # latest-round reds outrank everything (clearing a recorded
    # mismatch beats a first green), then never-checked
    assert names[: len(reds)] == reds
    window = set(names[: max(50, len(reds) + len(never))])
    missing = (set(never) | set(reds)) - window
    assert not missing, f"red/never-checked outside the window: {missing}"


def test_ordering_is_by_green_count_then_staleness():
    hist = entry._driver_history()
    names = list(entry.queries())
    keys = [(0 if hist.get(n, (0, 0, False))[2] else 1,
             *hist.get(n, (0, 0, False))[:2]) for n in names]
    assert keys == sorted(keys), "queries() not ordered red-first then thinnest-history"


def test_window_prefers_thin_history_over_veterans():
    # No entry outside the first-50 window may have FEWER driver greens
    # than an entry inside it — i.e. the window always holds the 50
    # thinnest records.
    hist = entry._driver_history()
    names = list(entry.queries())
    if len(names) <= 50:
        return
    max_in = max(hist.get(n, (0, 0, False))[0] for n in names[:50])
    min_out = min(hist.get(n, (0, 0, False))[0] for n in names[50:])
    assert min_out >= max_in or min_out >= 1, (
        "an unchecked/red entry sits outside the window while a greener "
        "veteran sits inside it"
    )


# Queries that deliberately carry NO DuckDB oracle (the driver records a
# rows-only check): keep this list tiny and justified per entry.
ROWS_ONLY: set[str] = set()


def test_every_query_has_matching_oracle_keyset():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(q) - set(o) == ROWS_ONLY, (
        "a query is missing its oracle without a documented rows-only "
        "justification (or a stale ROWS_ONLY entry gained an oracle)")
    assert set(o) <= set(q), "oracle with no matching query"
    # relative order of the oracled names must match queries() — the
    # driver keys by name (r2 ran 2 rows-only entries keyed), but a
    # stable shared order keeps the check window deterministic.
    assert [n for n in q if n in o] == list(o)


def test_ordering_is_deterministic():
    assert list(entry.queries()) == list(entry.queries())
    q = entry.queries()
    assert [n for n in q if n not in ROWS_ONLY] == list(entry.oracle_sql())


def test_history_parses_known_rounds():
    # The repo carries r1-r4 files; route_agg was green in r1-r3 windows.
    hist = entry._driver_history()
    assert hist, "no CORRECTNESS_r*.json parsed"
    greens, last, red = hist["route_agg"]
    assert greens >= 3 and last >= 3 and not red
    # the four r4 hash-mismatch rows must read as latest-round reds
    # until a newer green row supersedes them
    for n in ("unigram_surprisal", "bigram_surprisal",
              "expect_stamp", "nb_quality"):
        g, l, r = hist[n]
        assert (l == 4) <= r, (n, hist[n])
