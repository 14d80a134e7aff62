"""The entry contract in ``__spark_entry__``: the flagship query returns
rows, every declared query has a DuckDB oracle, and the queries of the
last correctness record are all still declared."""

from __future__ import annotations

import json
import os

import __spark_entry__ as entry_mod

_RECORD = os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r14.json")


def test_entry_returns_rows(spark):
    assert entry_mod.entry(spark).count() > 0


def test_queries_and_oracles_share_names():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_recorded_queries_are_declared():
    with open(_RECORD) as f:
        recorded = set(json.load(f))
    assert len(recorded) == 50
    assert recorded <= set(entry_mod.queries())
