"""tools/update_certified.py: the stale-row guard diffs against the latest
"round N: ..." snapshot commit, so its subject match must not take any
other commit that merely starts with the word "round". Pure git, no Spark
session."""

import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import update_certified


def _commit(repo: Path, subject: str) -> str:
    git = ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run(
        git + ["commit", "--allow-empty", "-q", "-m", subject], check=True
    )
    return subprocess.run(
        git + ["rev-parse", "HEAD"], capture_output=True, text=True, check=True
    ).stdout.strip()


def test_latest_round_commit_matches_only_round_n(tmp_path):
    subprocess.run(["git", "init", "-q", str(tmp_path)], check=True)
    _commit(tmp_path, "round trip: first")
    assert update_certified._latest_round_commit(str(tmp_path)) is None
    snap = _commit(tmp_path, "round 12: verdict")
    _commit(tmp_path, "round trip: serialize the index")
    _commit(tmp_path, "rounding: fix dp")
    assert update_certified._latest_round_commit(str(tmp_path)) == snap
