"""Git metadata capture (ref: waddle/_git.py:10-89 behavior).

Driver-side subprocess glue, not a Spark concern — results land as rows in
repos/commits.  Never required: every helper degrades to None outside a
git repo or when git is absent (ref AGENTS.md "never required").
"""

from __future__ import annotations

import subprocess


def _git(repo_root: str, *args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", repo_root, *args],
            capture_output=True,
            text=True,
            timeout=10,
        )
        if out.returncode != 0:
            return None
        return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        return None


def detect_repo_root(cwd: str) -> str | None:
    return _git(cwd, "rev-parse", "--show-toplevel")


def get_origin(repo_root: str) -> str | None:
    return _git(repo_root, "remote", "get-url", "origin")


def detect_default_branch(repo_root: str) -> str:
    ref = _git(repo_root, "symbolic-ref", "--short", "HEAD")
    return ref or "main"


def head_commit(repo_root: str) -> dict | None:
    """HEAD sha + tree + author metadata (ref: record_commit inputs)."""
    fmt = "%H%n%T%n%an <%ae>%n%at%n%s"
    out = _git(repo_root, "log", "-1", f"--format={fmt}")
    if not out:
        return None
    sha, tree, author, at, msg = (out.split("\n") + [None] * 5)[:5]
    return {
        "commit_sha": sha,
        "tree_sha": tree,
        "author": author,
        "author_time": float(at) if at else None,
        "message": msg,
    }


def auto_snapshot(repo_root: str) -> str | None:
    """Return the commit sha identifying the current code state.

    The reference auto-commits a dirty tree to a snapshot ref
    (waddle/_git.py:81-89); we record the HEAD sha and, when dirty, note it
    via `git stash create` (a dangling commit capturing the work tree)
    falling back to HEAD — same observability, no mutation of the user's
    branch.
    """
    dirty = _git(repo_root, "status", "--porcelain")
    if dirty:
        snap = _git(repo_root, "stash", "create")
        if snap:
            return snap
    return _git(repo_root, "rev-parse", "HEAD")
