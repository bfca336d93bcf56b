"""PLANS.md regeneration keeps its hand-maintained sections
(scripts/dump_plans.py). Pure-Python: no Spark session."""

from __future__ import annotations


def test_dump_plans_preserves_bench_delta_notes(tmp_path):
    # regenerating PLANS.md must carry over the hand-maintained notes
    # section — it is the record of why past timing deltas were
    # accepted, and a regen that dropped it would erase that history
    from scripts import dump_plans

    plans = tmp_path / "PLANS.md"
    plans.write_text(
        "# PLANS\n\n## q01_pricing_summary\n\nold capture\n\n"
        "## Bench delta notes\n\n- q33_running_sum: noted\n"
    )
    tail = dump_plans.preserved_tail(str(plans))
    assert tail.startswith("\n## Bench delta notes")
    assert "q33_running_sum: noted" in tail
    assert "old capture" not in tail
    # absent file / absent section -> empty tail, regen unaffected
    assert dump_plans.preserved_tail(str(tmp_path / "nope.md")) == ""
    plans.write_text("# PLANS\nno notes section\n")
    assert dump_plans.preserved_tail(str(plans)) == ""
