"""Query-fingerprint drift gate (tools/query_fingerprints.py): a
gated query changed outside the driver window must fail the check —
this is the mechanical fix for the r4 text_stats/n_bpe_tokens
post-gate drift."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, REPO)

import query_fingerprints as qf  # noqa: E402


def test_current_state_is_clean():
    assert qf.check() == 0


def test_out_of_window_sql_change_is_caught(monkeypatch):
    import __spark_entry__ as entry

    name = [n for n in entry._REGISTRY if n not in qf._window_names()][0]
    fn, _old_sql = entry._REGISTRY[name]
    monkeypatch.setitem(entry._REGISTRY, name,
                        (fn, lambda: "SELECT 1 AS drifted"))
    assert qf.check() == 1


def test_in_window_change_is_allowed(monkeypatch):
    """A changed query INSIDE the window passes — it will be gated."""
    import __spark_entry__ as entry

    name = qf._window_names()[0]
    fn, _old_sql = entry._REGISTRY[name]
    monkeypatch.setitem(entry._REGISTRY, name,
                        (fn, lambda: "SELECT 1 AS drifted"))
    assert qf.check() == 0


def test_update_refuses_out_of_window_change(monkeypatch, tmp_path):
    import __spark_entry__ as entry

    name = [n for n in entry._REGISTRY if n not in qf._window_names()][0]
    fn, _old_sql = entry._REGISTRY[name]
    monkeypatch.setitem(entry._REGISTRY, name,
                        (fn, lambda: "SELECT 1 AS drifted"))
    # redirect writes so a refused update can never corrupt the live file
    monkeypatch.setattr(qf, "HASHES_PATH", str(tmp_path / "qh.json"))
    import shutil

    shutil.copy(os.path.join(REPO, "QUERY_HASHES.json"),
                qf.HASHES_PATH)
    assert qf.update(99) == 1
