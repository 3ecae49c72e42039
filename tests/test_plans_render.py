"""PLANS.md's numeric soak claims are GENERATED, not transcribed.

VERDICT r7 #1 and r8 #2: two consecutive rounds of hand-transcribed
soak numbers drifting from the committed artifact. The span-gate
numbers now live in a marker-delimited block rendered by
``tools/plan_audit.py --render-soak`` from the LATEST committed
SOAK_r*.json; this test re-renders and fails the suite on any
divergence — a hand-edit of the block and a refreshed soak artifact
without a re-render both fail.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _plan_audit():
    spec = importlib.util.spec_from_file_location(
        "plan_audit", REPO / "tools" / "plan_audit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plans_soak_block_matches_committed_artifact():
    pa = _plan_audit()
    text = (REPO / "PLANS.md").read_text()
    start = text.index(pa.SOAK_BEGIN)
    end = text.index(pa.SOAK_END) + len(pa.SOAK_END)
    assert text[start:end] == pa.render_soak_block(), (
        "PLANS.md soak block drifted from the committed artifact — "
        "run `python tools/plan_audit.py --render-soak`"
    )


def test_no_hand_transcribed_span_numbers_outside_block():
    """The drift class specifically: span-dedup second counts quoted
    in prose. Outside the generated block (and the historical
    CORRECTED notes, which quote stale numbers deliberately), PLANS.md
    must not restate the current artifact's span timings."""
    pa = _plan_audit()
    import json

    ns = json.loads(pa.latest_soak_path().read_text())["natural_scale"]
    text = (REPO / "PLANS.md").read_text()
    start = text.index(pa.SOAK_BEGIN)
    end = text.index(pa.SOAK_END) + len(pa.SOAK_END)
    outside = text[:start] + text[end:]
    for key in (
        "span_dedup_sec",
        "span_dedup_window_sec",  # pre-r13 artifacts
        "span_dedup_skewsafe_sec",  # r13 gate recalibration
        "span_dedup_megaviral_sec",
        "span_dedup_unviral_window_sec",
        "span_dedup_unviral_skewsafe_sec",
    ):
        if key in ns:
            assert f"{ns[key]:.2f} s" not in outside, key


def test_plans_ann_block_matches_committed_artifact():
    """r10 extension of the same mechanism: the materialized-index
    numbers (files-read pruning facts, trained-K build/recall) are
    rendered from the committed SOAK artifact, never transcribed."""
    pa = _plan_audit()
    text = (REPO / "PLANS.md").read_text()
    start = text.index(pa.ANN_BEGIN)
    end = text.index(pa.ANN_END) + len(pa.ANN_END)
    assert text[start:end] == pa.render_ann_block(), (
        "PLANS.md ann-index block drifted from the committed artifact — "
        "run `python tools/plan_audit.py --render-soak`"
    )


def test_ann_block_renders_put_if_absent_soak_keys(tmp_path):
    """A soak artifact written since the put-if-absent epoch commits
    carries the crash/rebase guard keys, not the lock protocol's: the
    compaction line renders them and no guard reads as ``None``."""
    import json

    pa = _plan_audit()
    legacy = {
        "guard_fired_inflight", "lock_released_after_refusal",
        "pending_after_crash", "guard_fired_pending", "ledger_replay_sec",
        "writer_refused_under_lock",
    }
    r15 = json.loads((REPO / "SOAK_r15.json").read_text())["ann_compaction_ingest"]
    ci = {k: v for k, v in r15.items() if k not in legacy}
    ci.update(crashed_batch_invisible=True, replay_sec=0.42, append_rebased=True)
    soak = tmp_path / "SOAK_r99.json"
    soak.write_text(json.dumps({"ann_compaction_ingest": ci}))
    block = pa.render_ann_block(soak)
    assert "None" not in block
    assert "crashed batch invisible **True**" in block
    assert "append rebased **True**" in block
    assert "replay **0.42 s**" in block
