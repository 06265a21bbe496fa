"""Driver-contract gates for __spark_entry__.py.

The driver verifies only a window from the FRONT of queries(), and
the order is derived from the committed CORRECTNESS_r{N}.json
artifacts: queries with no passing row lead, the rest follow oldest
last check first.  These tests pin that derivation on temporary
artifact directories — no Spark session needed.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

_spec = importlib.util.spec_from_file_location(
    "spark_entry", os.path.join(_REPO, "__spark_entry__.py")
)
entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(entry)

from dpu_olap_spark import registry  # noqa: E402


_NEVER_CHECKED_BY_R18 = {
    "tpcds_q23", "tpcds_q64", "tpcds_q5", "tpcds_q93", "tpcds_q39",
    "tpcds_q49", "stream_replay_chunked_lo",
}


def _artifacts(tmp_path, last_round: int) -> str:
    for r in range(1, last_round + 1):
        fname = f"CORRECTNESS_r{r:02d}.json"
        shutil.copy(os.path.join(_REPO, fname), tmp_path / fname)
    return str(tmp_path)


def _row(ok: bool = True) -> dict:
    return {"rows_match": ok, "schema_match": ok, "hash_match": ok,
            "spark_rows": 1, "oracle_rows": 1, "err": None}


def test_ordering_covers_registry_exactly_once():
    names = entry._ordered_names()
    assert len(names) == len(set(names)), "duplicate names in ordering"
    assert set(names) == set(registry.all_queries()), (
        "ordering and registry diverge"
    )
    assert list(entry.queries()) == names


def test_unverified_lead_the_window(tmp_path):
    """Queries with no passing driver row through r18 (the seven r18
    registrations) lead, in registration order, so a new operator
    cannot miss its verification window."""
    names = entry._ordered_names(_artifacts(tmp_path, 18))
    assert names[:7] == [
        n for n in registry.all_queries() if n in _NEVER_CHECKED_BY_R18
    ]


def test_window_derived_from_artifacts_through_r18(tmp_path):
    """Given r01..r18, the derived 50-row window is the one r19
    checked, except the two r16 rows r19 hoisted by hand
    (bloom_filter_join, fuzzy_join); the next two oldest r15 rows
    take their slots."""
    names = entry._ordered_names(_artifacts(tmp_path, 18))
    with open(os.path.join(_REPO, "CORRECTNESS_r19.json")) as fh:
        r19 = set(json.load(fh))
    assert set(names[:50]) == (
        r19 - {"bloom_filter_join", "fuzzy_join"}
    ) | {"window_running", "set_ops"}


def test_new_artifact_rotates_window(tmp_path):
    """A new round's artifact moves its passing rows to the back with
    no code edit; a failing row keeps the query's older last check."""
    art = _artifacts(tmp_path, 19)
    before = entry._ordered_names(art)
    window = before[:50]
    rows = {n: _row(ok=(i != 0)) for i, n in enumerate(window)}
    (tmp_path / "CORRECTNESS_r20.json").write_text(json.dumps(rows))
    after = entry._ordered_names(art)
    assert after[0] == window[0]
    assert after[1:178] == before[50:]
    assert after[178:] == window[1:]


def test_no_artifacts_keeps_registration_order(tmp_path):
    assert entry._ordered_names(str(tmp_path)) == list(registry.all_queries())


def test_malformed_artifact_names_the_file(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text('{"filter": {"err": null}}')
    with pytest.raises(ValueError, match="CORRECTNESS_r01.json"):
        entry._ordered_names(str(tmp_path))


def test_oracle_names_match_queries():
    """Every oracle key must be a registered query (a dangling oracle
    is dead weight; a query missing its oracle is rows-only and must
    be deliberate — the known rows-only set)."""
    rows_only_by_design = {
        "approx_distinct",
        "approx_percentile",
        "mm_decode",
        "mm_resize",
        "mm_frame_sample",
        "hll_mergeable",
    }
    q = set(registry.all_queries())
    o = set(registry.oracle_map())
    assert o <= q, f"oracles without queries: {sorted(o - q)}"
    assert q - o == rows_only_by_design, (
        f"rows-only set changed: {sorted(q - o)}"
    )
