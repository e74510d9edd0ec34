"""Edit-aware grading rotation (round-12 verdict #7): keys whose
defining module changed after their latest driver grade — with no local
re-verification at the current source — must front-load the 50-slot
grading window, right behind never-green keys.

Pure-logic tests: no Spark session needed (registry._grade_order and
plans.grade_fp are filesystem/JSON only).
"""

from __future__ import annotations

import json

import pytest

from scala_reactivex_spark.plans import grade_fp


MOD = "scala_reactivex_spark.plans.grade_fp"  # any real module file


@pytest.fixture()
def sidecar(tmp_path, monkeypatch):
    path = tmp_path / "grade_fingerprints.json"
    monkeypatch.setattr(grade_fp, "SIDECAR", str(path))
    grade_fp._SIDECAR_CACHE.clear()
    grade_fp._MODULE_FPS.clear()
    yield path
    grade_fp._SIDECAR_CACHE.clear()
    grade_fp._MODULE_FPS.clear()


def _write(path, data):
    path.write_text(json.dumps(data))
    grade_fp._SIDECAR_CACHE.clear()


def test_unedited_module_is_not_flagged(sidecar):
    cur = grade_fp.current_module_fp(MOD)
    _write(sidecar, {"k": {"round": 9, "graded_fp": cur}})
    assert not grade_fp.edited_unverified("k", MOD, 9)


def test_edited_module_is_flagged(sidecar):
    _write(sidecar, {"k": {"round": 9, "graded_fp": "deadbeef"}})
    assert grade_fp.edited_unverified("k", MOD, 9)


def test_round_mismatch_is_not_flagged(sidecar):
    """A stale sidecar (key re-graded in a newer round than recorded)
    must not flag — the newer grade already covers the edit."""
    _write(sidecar, {"k": {"round": 9, "graded_fp": "deadbeef"}})
    assert not grade_fp.edited_unverified("k", MOD, 12)


def test_missing_row_is_not_flagged(sidecar):
    _write(sidecar, {})
    assert not grade_fp.edited_unverified("k", MOD, 9)


def test_local_verification_clears_the_flag(sidecar):
    _write(sidecar, {"k": {"round": 9, "graded_fp": "deadbeef"}})
    assert grade_fp.edited_unverified("k", MOD, 9)
    grade_fp.stamp_verified({"k": MOD})
    assert not grade_fp.edited_unverified("k", MOD, 9)
    # The stamp is fingerprint-specific: persisted verified_fp equals
    # the module's current hash.
    data = json.loads(sidecar.read_text())
    assert data["k"]["verified_fp"] == grade_fp.current_module_fp(MOD)


def test_stamp_only_where_the_graded_fingerprint_is_stale(sidecar):
    """A key whose graded fingerprint is current gets no stamp (an old
    one is dropped); an edited key does."""
    cur = grade_fp.current_module_fp(MOD)
    _write(
        sidecar,
        {
            "current": {"round": 9, "graded_fp": cur, "verified_fp": cur},
            "edited": {"round": 9, "graded_fp": "deadbeef"},
        },
    )
    grade_fp.stamp_verified({"current": MOD, "edited": MOD})
    data = json.loads(sidecar.read_text())
    assert data["current"] == {"round": 9, "graded_fp": cur}
    assert data["edited"] == {
        "round": 9, "graded_fp": "deadbeef", "verified_fp": cur,
    }


def test_fingerprint_ignores_docs_but_not_code():
    """A docstring or comment edit keeps a module's fingerprint, so it
    cannot reorder the grading window; a code edit changes it."""
    src = (
        '"""Module doc."""\n'
        "class C:\n"
        '    """Class doc."""\n'
        "    def f(self, x):\n"
        '        """Function doc."""\n'
        "        return x + 1  # comment\n"
    )
    fp = grade_fp.source_fp(src)
    docs = (
        src.replace("Module doc.", "Reworded module doc.")
        .replace("Class doc.", "")
        .replace('        """Function doc."""\n', "")
        .replace("# comment", "# another comment\n        # and one more")
    )
    assert grade_fp.source_fp(docs) == fp
    assert grade_fp.source_fp(docs.encode()) == fp
    assert grade_fp.source_fp(src.replace("x + 1", "x + 2")) != fp
    assert grade_fp.source_fp(src.replace("C:", "D:")) != fp


def test_grade_order_front_loads_edited_keys(monkeypatch):
    """Window order: never-green first, then edited-unverified (oldest
    grade first), then banked greens oldest-first."""
    import importlib

    reg = importlib.import_module("scala_reactivex_spark.plans.registry")

    names = ["banked_r8", "edited_r9", "edited_r10", "fresh", "banked_r12"]
    green = {"banked_r8": 8, "edited_r9": 9, "edited_r10": 10, "banked_r12": 12}
    monkeypatch.setattr(reg, "_externally_green", lambda: green)
    monkeypatch.setattr(
        grade_fp,
        "edited_unverified",
        lambda n, mod, rnd: n.startswith("edited"),
    )
    # _grade_order reads fn.__module__ off the registry entries.
    class _Spec:
        class fn:
            __module__ = MOD

    monkeypatch.setattr(
        reg, "_REGISTRY", {n: _Spec for n in names}, raising=True
    )
    order = reg._grade_order(names)
    assert order == [
        "fresh", "edited_r9", "edited_r10", "banked_r8", "banked_r12",
    ]


def test_committed_sidecar_is_fresh():
    """The committed sidecar must cover every registered key that has a
    driver grade — regenerating it is part of landing a round (the
    updater script prints the edited count)."""
    data = grade_fp.load_sidecar()
    assert len(data) >= 200
    for name, row in data.items():
        assert set(row) <= {"round", "graded_fp", "verified_fp"}, name
        # Keys never driver-graded (birth-round additions) carry only a
        # verified_fp stamp until their first grade lands.
        if "round" in row:
            assert isinstance(row["round"], int)
        else:
            assert row.get("verified_fp"), name
