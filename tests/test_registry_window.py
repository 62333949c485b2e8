"""Driver-window rotation hygiene (VERDICT r2 "Next round" #9).

The correctness driver hash-checks only the FIRST 50 registry entries
each round, so window rotation decides which queries ever earn a
driver CORRECTNESS row. These tests pin the invariants that keep the
evidence complete:
- the pinned window is exactly the first 50 registration-order names;
- the union of every recorded round's window (CORRECTNESS_r*.json at
  the repo root) plus the CURRENT window covers the whole registry —
  no registered query is dark in all rounds;
- every name rotated out of the window has a green recorded row;
- every windowed query with an oracle stays hash-comparable (scalar
  output columns only — the driver's pandas canonicalizer crashes on
  array/map/struct cells, r2's one red row).
"""

from __future__ import annotations

import glob
import json
import os

from etl_pipelines_spark.queries import REGISTRY, _DRIVER_WINDOW

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _recorded_rows() -> dict[str, list[dict]]:
    """Every recorded driver row per query name, across all rounds."""
    rows: dict[str, list[dict]] = {}
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(p) as f:
            for name, row in json.load(f).items():
                rows.setdefault(name, []).append(row)
    return rows


def _is_green(name: str, row: dict) -> bool:
    """A hash match, or, for a query without an oracle, a run that
    returned rows."""
    if row.get("hash_match") is True:
        return True
    spec = REGISTRY.get(name)
    return (
        spec is not None
        and spec.oracle is None
        and row.get("err") == "no_oracle"
        and (row.get("spark_rows") or 0) > 0
    )


class TestDriverWindow:
    def test_window_is_the_first_50_registry_entries(self):
        assert list(REGISTRY)[: len(_DRIVER_WINDOW)] == _DRIVER_WINDOW
        assert len(_DRIVER_WINDOW) == 50
        assert len(set(_DRIVER_WINDOW)) == 50

    def test_window_names_are_registered(self):
        unknown = [n for n in _DRIVER_WINDOW if n not in REGISTRY]
        assert unknown == []

    def test_every_registered_query_has_a_window_row_some_round(self):
        """Union coverage: recorded rounds + the current window must
        reach every registered query. Adding a query without putting
        it in the window fails here — that is the point."""
        covered = set(_recorded_rows()) | set(_DRIVER_WINDOW)
        dark = sorted(n for n in REGISTRY if n not in covered)
        assert dark == [], (
            f"queries with no driver CORRECTNESS row in any round: {dark} — "
            "add them to _DRIVER_WINDOW (rotate out rows already green in a "
            "committed CORRECTNESS_r*.json)"
        )

    def test_rotated_out_names_have_recorded_evidence(self):
        """Anything formerly windowed that is now outside the window
        must already own a green recorded driver row."""
        rows = _recorded_rows()
        formerly = set(rows) - set(_DRIVER_WINDOW)
        assert formerly, "no rotated-out names: the check would be vacuous"
        never_green = sorted(
            n for n in formerly if not any(_is_green(n, r) for r in rows[n])
        )
        assert never_green == [], (
            f"rotated out of the driver window without a green row: {never_green}"
        )

    def test_windowed_oracle_outputs_are_scalar_only(self, spark, sf_dir):
        """The driver canonicalizes results through pandas
        sort_values; array/map/struct output columns crash it (r2's
        dd_exact_dup_groups). Assert no windowed oracle query emits
        one. Plan-building only — nothing executes except queries
        whose construction is eager (IVF literals etc.)."""
        from pyspark.sql.types import ArrayType, MapType, StructType

        bad = []
        for name in _DRIVER_WINDOW:
            spec = REGISTRY[name]
            if spec.oracle is None:
                continue
            schema = spec.spark(spark, sf_dir).schema
            for f in schema.fields:
                if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                    bad.append((name, f.name, f.dataType.simpleString()))
        assert bad == [], bad
