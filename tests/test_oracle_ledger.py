"""The correctness ledger, wired into CI.

Two layers:

1. The COMMITTED ledger (LOCAL_ORACLE.json, built by
   tools/build_oracle_ledger.py) must cover every ``queries()`` entry at
   sf0.01 AND sf0.1 with zero failures — the standing evidence that the
   full surface (not just the externally-sampled 50) hash-matches its
   DuckDB oracle at two scale factors.
2. A LIVE full re-check at sf0.001 in this very test run — a code change
   that breaks any oracle fails CI here, regardless of what the committed
   ledger says.
"""

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))
LEDGER = ROOT / "LOCAL_ORACLE.json"
# Adversarial-twin ledgers (tools/adversarial_testdata.py +
# tools/typed_twin.py variants), one per oracle registration mode:
# parquet views pin raw-file semantics, pandas views pin the driver
# model (int64-with-NULL → float64 drift, NaN/NULL collapse, ns-exact
# scanner) — see tools/check_oracle.py --pandas-views.
ADV_LEDGERS = (
    ROOT / "LOCAL_ORACLE_ADV_r9_std.json",
    ROOT / "LOCAL_ORACLE_ADV_r9_pv.json",
)
ADV_KEYS = ("sf_adv", "sf_adv2", "sf_adv_dd")  # + sf_adv3, sf_adv3_dd once the 5-variant rebuild lands


def _entry_queries():
    import __spark_entry__ as e

    return e.queries()


def test_committed_ledger_complete_and_green():
    with open(LEDGER) as f:
        ledger = json.load(f)
    qnames = set(_entry_queries())
    for sf_key in ("sf0.01", "sf0.1"):
        assert sf_key in ledger, f"ledger missing {sf_key}"
        results = ledger[sf_key]
        missing = qnames - set(results)
        assert not missing, f"{sf_key}: queries without a ledger row: {missing}"
        stale = set(results) - qnames
        assert not stale, f"{sf_key}: ledger rows naming no gate: {stale}"
        failed = {n: r["detail"] for n, r in results.items() if r["status"] == "fail"}
        assert not failed, f"{sf_key}: failing ledger rows: {failed}"
        # every oracle-able query must carry a value hash (strict evidence,
        # not just "it ran")
        import __spark_entry__ as e

        for name in e.oracle_sql():
            assert results[name]["value_hash"], f"{sf_key}:{name} has no value hash"


def test_committed_adversarial_ledgers_complete_and_green():
    qnames = set(_entry_queries())
    for path in ADV_LEDGERS:
        with open(path) as f:
            ledger = json.load(f)
        for key in ADV_KEYS:
            assert key in ledger, f"{path} missing {key}"
            results = ledger[key]
            missing = qnames - set(results)
            assert not missing, f"{path}:{key}: missing rows: {missing}"
            stale = set(results) - qnames
            assert not stale, f"{path}:{key}: rows naming no gate: {stale}"
            failed = {
                n: r["detail"] for n, r in results.items() if r["status"] == "fail"
            }
            assert not failed, f"{path}:{key}: failing rows: {failed}"


@pytest.mark.slow
def test_live_full_oracle_sweep_sf0001(spark):
    """Every query vs its oracle, live, at sf0.001 — the CI tripwire."""
    from check_oracle import run_checks

    results = run_checks(spark, "/root/testdata/sf0.001", verbose=False)
    failed = {n: r["detail"] for n, r in results.items() if r["status"] == "fail"}
    assert not failed, f"live sf0.001 oracle failures: {failed}"
    assert len(results) == len(_entry_queries())
