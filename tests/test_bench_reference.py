"""``bench.py`` compares a run's lines only against a committed quiet
record taken with the same core count (``reference_record``)."""

from __future__ import annotations

import json
import subprocess

import bench


def _commit(repo, record: dict, message: str) -> str:
    (repo / "BENCH_LOCAL.json").write_text(json.dumps(record))
    git = ["git", "-c", "user.name=bench", "-c", "user.email=bench@example.com"]
    subprocess.run([*git, "add", "BENCH_LOCAL.json"], cwd=repo, check=True)
    subprocess.run([*git, "commit", "-q", "-m", message], cwd=repo, check=True)
    return subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=repo, check=True,
        capture_output=True, text=True,
    ).stdout.strip()


def test_reference_is_newest_quiet_record_with_same_cpus(tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
    quiet = _commit(repo, {"quiet": True, "cpus": "8", "queries": {"q": 1.0}}, "quiet")
    _commit(repo, {"quiet": False, "cpus": "8", "queries": {"q": 2.0}}, "loaded")
    other = _commit(repo, {"quiet": True, "cpus": "32", "queries": {"q": 3.0}}, "32")
    # the newest commit is quiet but on another core count, the one
    # before it is loaded: the 8-core reference is the oldest commit
    commit, record = bench.reference_record(str(repo), "8")
    assert (commit, record["queries"]) == (quiet, {"q": 1.0})
    assert bench.reference_record(str(repo), "32")[0] == other
    assert bench.reference_record(str(repo), "4") is None


def test_no_git_history_means_no_reference(tmp_path):
    assert bench.reference_record(str(tmp_path), "8") is None


def test_error_line_flagged_without_quiet_reference(tmp_path):
    """A line that now fails is flagged against the newest committed
    record even when that record is loaded and no quiet one exists."""
    repo = tmp_path / "repo"
    repo.mkdir()
    subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
    _commit(repo, {"quiet": False, "cpus": "8", "queries": {"q": 2.0, "r": 1.0}}, "loaded")
    assert bench.reference_record(str(repo), "8") is None
    latest = bench.newest_record(str(repo))["queries"]
    times = {"q": {"err": "boom"}, "r": 1.1}
    assert bench.error_line_flags(times, latest) == {
        "q": {"prev": 2.0, "now": "error", "ratio": None}
    }
