"""Dataset-card job (jobs/run_card.py): per-source totals, Zipf and
vocab-growth sections, and the drift section against a previous
snapshot."""

from __future__ import annotations

import os
import sys


def test_run_card_job(spark, fixture_paths, tmp_path, monkeypatch):
    """jobs/run_card.py: the dataset-card JSON carries every section
    with internally consistent totals, and the drift section appears
    with --previous."""
    import json

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    import run_card

    out = str(tmp_path / "card.json")
    printed = []
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    monkeypatch.setattr(sys, "argv", [
        "run_card.py", "--input", fixture_paths["tokens"],
        "--output", out, "--exact-distinct",
        "--previous", fixture_paths["tokens"]])
    assert run_card.main() == 0
    card = json.load(open(out))
    assert card["rows"] == sum(s_["docs"] for s_ in card["sources"])
    assert card["tokens_total"] == sum(s_["tokens"]
                                       for s_ in card["sources"])
    assert card["zipf_top"][0]["rank"] == 1
    assert card["zipf_top"][-1]["cum_mass_permille"] <= 1000
    assert card["exact_distinct_docs"] == card["rows"]
    assert card["hll_abs_err_permille"] < 200
    # previous == current -> zero drift
    assert card["drift_vs_previous"]["l1_drift_ppm"] == 0
    growth = [g["vocab"] for g in card["vocab_growth"]]
    assert growth == sorted(growth)
