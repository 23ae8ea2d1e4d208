"""Mechanical checks of the registry's computed driver rotation
(plans/registry.py docstring):

- WINDOW CLOCK: no entry goes more than 2 rounds without a driver
  correctness row, i.e. every registered entry is either in the
  driver's 50-slot window (head of ``queries()`` — it gets its row
  THIS round) or present in the newest CORRECTNESS_r*.json (it got
  one LAST round).
- ROWS-ONLY SET: empty — every registered entry has a DuckDB oracle.
- ROTATION: ``registry.rotation`` is a pure function of the declared
  names and the driver records, pinned here on synthetic records.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

from dbitool_spark.plans import registry

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WINDOW = 50  # driver cap, observed CORRECTNESS_r01-r08
_DECLARED = [name for name, _fn, _sql in registry._ENTRIES]


def _latest_correctness() -> dict:
    files = sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")))
    assert files, "no CORRECTNESS_r*.json present — driver artifacts missing"
    with open(files[-1]) as fh:
        return json.load(fh)


def test_every_entry_within_two_round_window():
    names = list(registry.queries())
    head = set(names[:_WINDOW])
    last_round = set(_latest_correctness())
    overdue = [n for n in names if n not in head and n not in last_round]
    assert overdue == [], (
        "entries overdue a driver row (not in the 50-slot window and "
        f"absent from the newest CORRECTNESS record): {overdue} — more "
        "than 50 entries lack a green row in the newest record: fix the "
        "red ones, or merge or retire entries"
    )


def test_rows_only_set_is_empty():
    qs = set(registry.queries())
    oracles = set(registry.oracle_sql())
    assert qs - oracles == set(), (
        "every registered entry must carry a DuckDB oracle, got "
        f"{sorted(qs - oracles)}"
    )


def test_registry_has_no_duplicate_registrations():
    # queries() builds a dict, which would silently drop a duplicated
    # row of the declared table — so count the declared names
    dups = sorted(n for n, k in Counter(_DECLARED).items() if k > 1)
    assert dups == [], f"duplicate registry names: {dups}"
    # the window must actually be full enough to matter: fewer entries
    # than the window means the rotation bookkeeping degenerated
    assert len(_DECLARED) >= _WINDOW


_GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
_RED = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
_NO_ORACLE = {"rows_match": None, "schema_match": None, "hash_match": None,
              "err": "no_oracle"}


def test_rotation_puts_never_recorded_entry_first():
    records = {1: {"a": _GREEN, "c": _GREEN}, 2: {"a": _GREEN, "c": _GREEN}}
    assert registry.rotation(["a", "b", "c"], records) == ["b", "a", "c"]


def test_rotation_puts_latest_red_ahead_of_green():
    records = {
        1: {"red": _GREEN, "rows_only": _GREEN},
        2: {"x": _GREEN},
        3: {"red": _RED, "rows_only": _NO_ORACLE, "x": _GREEN, "y": _GREEN},
    }
    order = registry.rotation(["x", "y", "red", "rows_only"], records)
    assert order == ["red", "rows_only", "x", "y"]


def test_rotation_ties_keep_declaration_order():
    records = {5: {n: _GREEN for n in "dcba"}}
    assert registry.rotation(list("abcd"), records) == list("abcd")
    assert registry.rotation(list("dbca"), records) == list("dbca")


def test_rotation_empty_records_is_declaration_order():
    assert registry.rotation(_DECLARED, {}) == _DECLARED


def test_new_green_round_moves_current_head_to_tail():
    """Appending a synthetic round in which the current head-50 is green
    rotates that head to the tail — no source edit."""
    records = registry.correctness_records()
    head = registry.rotation(_DECLARED, records)[:_WINDOW]
    nxt = max(records) + 1
    rotated = registry.rotation(_DECLARED, {**records, nxt: {n: _GREEN for n in head}})
    assert rotated[-_WINDOW:] == sorted(head, key=_DECLARED.index)
    assert set(rotated[:-_WINDOW]).isdisjoint(head)
