"""Per-key source fingerprints for EDIT-AWARE grading rotation.

Round-12 verdict #7: the rotation prioritized never-green keys but not
edited-since-green keys, so 32 keys accumulated whose defining modules
changed AFTER their last driver grade (pytest-covered but externally
unproven).  This module gives the rotation the signal it was missing: a
committed sidecar (``grade_fingerprints.json``, next to this file) maps
each registry key to

- ``round``      — the round of its latest all-match driver grade,
- ``graded_fp``  — 8-hex hash of the key's DEFINING MODULE's code
  (``source_fp``: docstrings and comments do not count) at the commit
  the driver graded that round (git archaeology:
  ``scripts/update_grade_fingerprints.py``),
- ``verified_fp`` — module hash at the last time ``scripts/
  verify_local.py`` re-confirmed the key locally with the same
  rows+schema+value-hash protocol (stamped automatically on PASS).

A key is **edited-unverified** when its module's CURRENT hash differs
from ``graded_fp`` and does not equal ``verified_fp``; the registry
front-loads those right behind never-green keys, so a post-edit key
cannot sit on a stale green grade for rounds (the round-12 failure
mode).  A locally re-verified edit keeps its normal oldest-round-first
slot — the driver still re-grades it as its grade ages, but it no
longer pre-empts window slots the (older) banked cohort needs.

Granularity is the defining module FILE, same as plans/memo.py's
builder version token: an edit anywhere in llm_dedup.py flags all of
its keys — over-flagging, the safe direction.  Known accepted limit
(mirrors memo._builder_src_tag): a transitive-dependency edit (helper
in another module) is not seen; the composing modules (llm_compose)
re-register their own oracle text, so cross-module oracle drift still
lands in pytest and verify_local.
"""

from __future__ import annotations

import ast
import hashlib
import importlib.util
import json
import os

#: Path of the committed sidecar (inside the package so a bare checkout
#: carries it; regenerated by scripts/update_grade_fingerprints.py).
SIDECAR = os.path.join(os.path.dirname(__file__), "grade_fingerprints.json")

#: Process-lifetime caches.  Module hashes are pinned at first read for
#: the same reason memo._SRC_TAGS is: the loaded code came from the
#: file's state near process start.
_MODULE_FPS: dict[str, str] = {}
_SIDECAR_CACHE: list[dict] = []


def module_path(module_name: str) -> str | None:
    """Filesystem path of a module WITHOUT importing it."""
    try:
        spec = importlib.util.find_spec(module_name)
    except (ImportError, ValueError):
        return None
    return spec.origin if spec and spec.origin else None


def source_fp(text: str | bytes) -> str:
    """8-hex md5 of a module's code: its AST without module, class and
    function docstrings.  Comments and line positions are not in the
    dump, so a docs-only edit keeps the fingerprint; any code edit
    changes it.  The dump format follows the running Python's ``ast``,
    so stamps compare only within one interpreter version."""
    tree = ast.parse(text)
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and ast.get_docstring(node, clean=False) is not None:
            node.body = node.body[1:] or [ast.Pass()]
    return hashlib.md5(ast.dump(tree).encode()).hexdigest()[:8]


def file_fp(path: str) -> str | None:
    """``source_fp`` of a file (None if unreadable or unparsable)."""
    try:
        with open(path, "rb") as f:
            return source_fp(f.read())
    except (OSError, SyntaxError, ValueError):
        return None


def current_module_fp(module_name: str) -> str | None:
    if module_name not in _MODULE_FPS:
        path = module_path(module_name)
        fp = file_fp(path) if path else None
        _MODULE_FPS[module_name] = fp or ""
    return _MODULE_FPS[module_name] or None


def load_sidecar() -> dict[str, dict]:
    """key → {round, graded_fp, verified_fp} (empty if absent/corrupt)."""
    if not _SIDECAR_CACHE:
        try:
            with open(SIDECAR) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            data = {}
        _SIDECAR_CACHE.append(data if isinstance(data, dict) else {})
    return _SIDECAR_CACHE[0]


def edited_unverified(name: str, module_name: str, green_round: int) -> bool:
    """True when ``name``'s defining module changed after its last driver
    grade and no local verify has re-confirmed the current source.

    Requires the sidecar row's round to MATCH the artifact-derived green
    round: a stale sidecar (not regenerated after a newer grade) must
    not flag a key the driver already re-graded post-edit."""
    row = load_sidecar().get(name)
    if not row or row.get("round") != green_round:
        return False
    graded = row.get("graded_fp")
    if not graded:
        return False
    cur = current_module_fp(module_name)
    if cur is None or cur == graded:
        return False
    return row.get("verified_fp") != cur


def with_verified(row: dict, cur: str | None, verified: str | None) -> dict:
    """``row`` carrying ``verified_fp = verified`` — or none at all when
    its ``graded_fp`` already covers the current source ``cur``, where a
    stamp would say nothing the graded fingerprint does not.  The one
    rule both ``stamp_verified`` and scripts/update_grade_fingerprints.py
    apply."""
    row = {k: v for k, v in row.items() if k != "verified_fp"}
    if verified and cur != row.get("graded_fp"):
        row["verified_fp"] = verified
    return row


def stamp_verified(names_to_modules: dict[str, str]) -> None:
    """Record that verify_local just re-confirmed these keys at their
    modules' current hashes (called by scripts/verify_local.py after an
    all-PASS run; writes the sidecar in place)."""
    data = load_sidecar()
    for name, mod in names_to_modules.items():
        fp = current_module_fp(mod)
        if fp is None:
            continue
        data[name] = with_verified(data.get(name, {}), fp, fp)
    with open(SIDECAR, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    _SIDECAR_CACHE.clear()
