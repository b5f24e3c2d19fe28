"""The check registry as data: module discovery, the gate order derived
from the CORRECTNESS ledgers, and the per-check ``small`` flag.  No
Spark session is started."""

from __future__ import annotations

import pytest

from bench import DRIVER_SUBSET, LINE_ROWS
from dronedb_spark.suite import Check, last_gated, load_all

REGISTRY = load_all()
GATE_BUDGET = 50


def test_registry_ordered_by_last_gated_round_then_name():
    last = last_gated()
    names = list(REGISTRY)
    assert names == sorted(names, key=lambda n: (last.get(n, 0), n))
    never = [n for n in names if n not in last]
    assert names[: len(never)] == never


def test_gate_window_skips_the_newest_ledger():
    last = last_gated()
    newest = max(last.values())
    window = list(REGISTRY)[:GATE_BUDGET]
    assert not [n for n in window if last.get(n) == newest]


def test_malformed_ledger_names_the_file(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text('{"a": {}}')
    (tmp_path / "CORRECTNESS_r02.json").write_text('{"a": {}, "b": ')
    with pytest.raises(ValueError, match="CORRECTNESS_r02.json"):
        last_gated(str(tmp_path))


def test_ledger_rounds(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text('{"a": {}, "b": {}}')
    (tmp_path / "CORRECTNESS_r10.json").write_text('{"a": {}}')
    (tmp_path / "CORRECTNESS_notes.json").write_text("not a ledger")
    assert last_gated(str(tmp_path)) == {"a": 10, "b": 1}


def test_bench_rows_are_registered():
    assert [n for n in LINE_ROWS + DRIVER_SUBSET if n not in REGISTRY] == []


def test_small_defaults_false():
    assert Check("x", lambda spark, sf_dir: None, None).small is False
    assert any(c.small for c in REGISTRY.values())
