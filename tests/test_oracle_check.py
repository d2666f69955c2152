"""tools/oracle_check.py's name selection, checked without starting Spark."""

import sys

import pytest

import __spark_entry__ as entry
from tools import oracle_check


def test_suite_member_selects_its_suite():
    qs = entry.queries()
    assert oracle_check.selected(["spatial_box_join"], qs, entry._SUITES) == ["spatial_suite"]
    assert oracle_check.selected(
        ["spatial_quad_join", "tiling_suite", "spatial_join_synth"], qs, entry._SUITES
    ) == [q for q in qs if q in ("spatial_suite", "tiling_suite")]
    assert oracle_check.selected([], qs, entry._SUITES) == list(qs)


def test_unknown_name_fails_before_spark(monkeypatch):
    monkeypatch.setattr(oracle_check, "get_spark", lambda *a, **k: pytest.fail("Spark started"))
    monkeypatch.setattr(sys, "argv", ["oracle_check.py", "sf", "spatial_box_join", "no_such_q"])
    with pytest.raises(SystemExit) as e:
        oracle_check.main()
    assert e.value.code == "unknown query names: no_such_q"  # exit status 1
