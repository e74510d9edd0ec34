#!/usr/bin/env python
"""Regenerate plans/grade_fingerprints.json from driver artifacts + git.

For every registry key, finds its latest all-match round N across
CORRECTNESS_r*.json, locates the commit that ADDED that artifact (the
driver commits artifacts on top of the exact tree it graded, so the
artifact commit's source files ARE the graded source), and records the
code fingerprint (``grade_fp.source_fp``) of the key's defining module
at that commit.  Existing ``verified_fp`` stamps (written by
scripts/verify_local.py) are preserved unless the graded fingerprint
already covers the current source (then the stamp is redundant and
dropped).

Run once per session start (and after a driver grade lands) so the
registry's edit-aware rotation (plans/grade_fp.py) sees fresh data.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from scala_reactivex_spark.plans import grade_fp  # noqa: E402
from scala_reactivex_spark.plans.registry import registry  # noqa: E402


def _git(repo: str, *args: str) -> str:
    return subprocess.run(
        ["git", "-C", repo, *args],
        check=True,
        capture_output=True,
        text=True,
    ).stdout


def main() -> int:
    repo = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))

    # Latest all-match round per key, straight from the driver artifacts
    # (same reader the rotation uses).
    green: dict[str, int] = {}
    import glob

    for p in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(p).rsplit("_r", 1)[-1].split(".")[0])
            data = json.loads(open(p).read())
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                green[name] = max(green.get(name, 0), rnd)

    # Commit that added each round's artifact.
    commit_of_round: dict[int, str] = {}
    for rnd in sorted(set(green.values())):
        art = f"CORRECTNESS_r{rnd:02d}.json"
        sha = _git(
            repo, "log", "--diff-filter=A", "--format=%H", "-n1", "--", art
        ).strip()
        if sha:
            commit_of_round[rnd] = sha

    specs = registry()
    old = grade_fp.load_sidecar()
    out: dict[str, dict] = {}
    blob_cache: dict[tuple[str, str], str | None] = {}

    def blob_fp(sha: str, relpath: str) -> str | None:
        key = (sha, relpath)
        if key not in blob_cache:
            try:
                raw = subprocess.run(
                    ["git", "-C", repo, "show", f"{sha}:{relpath}"],
                    check=True,
                    capture_output=True,
                ).stdout
                blob_cache[key] = grade_fp.source_fp(raw)
            except (subprocess.CalledProcessError, SyntaxError, ValueError):
                # Module did not exist (or did not parse) at that commit
                # — no graded fingerprint is reconstructible.
                blob_cache[key] = None
        return blob_cache[key]

    n_edited = 0
    for name, spec in sorted(specs.items()):
        rnd = green.get(name)
        if rnd is None or rnd not in commit_of_round:
            continue
        mod = spec.fn.__module__
        path = grade_fp.module_path(mod)
        if not path:
            continue
        rel = os.path.relpath(path, repo)
        graded = blob_fp(commit_of_round[rnd], rel)
        if graded is None:
            continue
        cur = grade_fp.file_fp(path)
        n_edited += cur != graded
        out[name] = grade_fp.with_verified(
            {"round": rnd, "graded_fp": graded},
            cur,
            (old.get(name) or {}).get("verified_fp"),
        )

    with open(grade_fp.SIDECAR, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(
        f"wrote {grade_fp.SIDECAR}: {len(out)} keys, "
        f"{n_edited} edited since their last grade"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
