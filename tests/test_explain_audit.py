"""The physical-plan pins of tools/explain_audit.py, run against the
session's Spark: every check must pass (the script exits 0 and prints no
FAIL line)."""

import os
import sys
import tempfile

from conftest import SF_DIR

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

N_PINS = 69


def test_explain_audit_all_pins_pass(spark, tmp_path, monkeypatch, capsys):
    import explain_audit

    # the audit's scratch corpora and stores land in this test's tmp dir
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rc = explain_audit.main(SF_DIR)
    out = capsys.readouterr().out
    fails = [ln for ln in out.splitlines() if ln.startswith("  FAIL ")]
    assert rc == 0 and not fails, fails
    assert out.count("\n  PASS ") == N_PINS
