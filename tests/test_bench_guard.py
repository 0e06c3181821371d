"""Round-15 bench-harness additions (r14 verdict asks #2 and #7).

- The >2x-vs-prior-artifact guard: per-query headline timings compare
  against the newest committed BENCH_r*.json; suspicious entries get
  extra min-of-N samples and, if still slow, a name on the PRECEDING
  stdout line (never the driver-parsed final line — pinned by
  test_bench_line.py, which still passes untouched).
- cold_reset: returns the engine to a cold-index state (memo frames
  unpersisted, memo dicts emptied, clearers run) so the bench's
  cold-vs-warm stat measures a genuine first-touch build.
"""

from __future__ import annotations

import json
import subprocess

import pytest

import bench


def test_prior_headline_reads_newest_artifact() -> None:
    prior = bench._prior_headline()
    # the newest committed artifact, BENCH_r15.json, carries a parsed
    # 50-query block
    assert len(prior) == 50
    assert all(isinstance(v, float) for v in prior.values())
    assert prior["q01_pricing_summary"] > 0


def test_prior_headline_ignores_untracked_artifacts(tmp_path, monkeypatch) -> None:
    """A re-run's own untracked BENCH_r<N>.json must not become the
    prior: only the newest COMMITTED artifact counts."""

    def artifact(t: float) -> str:
        return json.dumps({"parsed": {"queries": {"q01_pricing_summary": t}}})

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    assert bench._prior_headline() == {}  # not a git repo: guard off

    def git(*args: str) -> None:
        subprocess.run(
            ["git", "-C", str(tmp_path), "-c", "user.name=t",
             "-c", "user.email=t@t", "-c", "commit.gpgsign=false", *args],
            check=True, capture_output=True,
        )

    git("init", "-q")
    (tmp_path / "BENCH_r07.json").write_text(artifact(1.5))
    git("add", "BENCH_r07.json")
    git("commit", "-q", "-m", "r07")
    (tmp_path / "BENCH_r08.json").write_text(artifact(9.0))  # untracked
    assert bench._prior_headline() == {"q01_pricing_summary": 1.5}
    git("add", "BENCH_r08.json")  # staged, still not committed
    assert bench._prior_headline() == {"q01_pricing_summary": 1.5}
    # a worktree edit of the committed artifact is not the prior either
    (tmp_path / "BENCH_r07.json").write_text(artifact(4.0))
    assert bench._prior_headline() == {"q01_pricing_summary": 1.5}


def test_vs_prev_guard_policy() -> None:
    # flag at >2x with up to 3 extra samples: enough to clear a
    # scheduler blip, bounded enough not to stretch the window
    assert bench.VS_PREV_FACTOR == 2.0
    assert 1 <= bench.VS_PREV_EXTRA_RUNS <= 3


def test_cold_reset_clears_memo_dicts_and_clearers() -> None:
    from etl_pipeline_project_auraverse_spark import cache

    d: dict = {"k": "v"}
    if all(x is not d for x in cache._MEMO_DICTS):
        cache._MEMO_DICTS.append(d)
    cleared = []
    cache.register_memo_clearer(lambda: cleared.append(True))

    cache.cold_reset()
    assert d == {}
    assert cleared == [True]
    cache._MEMO_DICTS.remove(d)
    cache._MEMO_CLEARERS.pop()


def test_cold_reset_propagates_a_failing_clearer() -> None:
    """A clearer that raises is a bug: cold_reset must not swallow it
    (a half-cleared memo would make the cold-index stat warm)."""
    from etl_pipeline_project_auraverse_spark import cache

    def broken() -> None:
        raise RuntimeError("clearer failed")

    cache.register_memo_clearer(broken)
    try:
        with pytest.raises(RuntimeError, match="clearer failed"):
            cache.cold_reset()
    finally:
        cache._MEMO_CLEARERS.remove(broken)
