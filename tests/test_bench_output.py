"""bench.py's output order: auxiliary metric lines first, the headline
line last, so a reader that parses the last JSON line gets the
headline."""

from __future__ import annotations

import os


def test_bench_prints_headline_last():
    """The driver parses the LAST JSON line of its tail capture
    (BENCH_r08 parsed the aux line when it was printed after the
    headline) — pin bench.py's print order: aux maps first,
    headline print is the final print in main()."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(os.path.join(repo, "bench.py")).read()
    aux = src.index('"metric": "wh_rebuild_models"')
    headline = src.index("print(json.dumps(out))")
    assert aux < headline
