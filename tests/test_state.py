"""The manifest protocol (operators/state.py) under simulated crashes.

Pure Python, no Spark session: each test fails one step of ``commit``
with monkeypatch and checks what a restarted driver would find — the
last committed manifest, and every root it names still on disk."""

from __future__ import annotations

import os
import shutil

import pytest

from flink_luad_pipeline_spark.operators import state


def _roots(tmp_path, *names):
    paths = []
    for name in names:
        p = tmp_path / name
        p.mkdir()
        (p / "part-0.parquet").write_bytes(b"x")
        paths.append(str(p))
    return paths


def test_commit_is_durable_then_gcs_unnamed_paths(tmp_path, monkeypatch):
    old, new = _roots(tmp_path, "old", "new")
    manifest = str(tmp_path / "m.json")
    state.commit(manifest, {"roots": [old], "folded": [0]})
    synced = []
    real_fsync = os.fsync
    monkeypatch.setattr(
        os, "fsync", lambda fd: (synced.append(fd), real_fsync(fd))
    )
    gone = state.commit(manifest, {"roots": [new], "folded": [0, 1]}, [old])
    assert len(synced) == 2  # the file, then its directory
    assert gone == [old] and not os.path.exists(old)
    assert state.load(manifest) == {"roots": [new], "folded": [0, 1]}
    assert not os.path.exists(f"{manifest}.tmp")


def test_crash_at_replace_keeps_old_manifest(tmp_path, monkeypatch):
    old, new = _roots(tmp_path, "old", "new")
    manifest = str(tmp_path / "m.json")
    state.commit(manifest, {"root": old, "folded": [0]})
    before = open(manifest, "rb").read()

    def crash(src, dst):
        raise OSError("crash at replace")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="crash at replace"):
        state.commit(manifest, {"root": new, "folded": [0, 1]}, [old])
    assert open(manifest, "rb").read() == before
    assert state.load(manifest) == {"root": old, "folded": [0]}
    assert os.path.exists(old)  # GC never ran


def test_crash_at_first_gc_leaves_new_doc_and_its_roots(tmp_path, monkeypatch):
    a, b, c = _roots(tmp_path, "a", "b", "c")
    manifest = str(tmp_path / "m.json")
    state.commit(manifest, {"roots": [a, b]})

    def crash(path, ignore_errors=False):
        raise OSError("crash at gc")

    monkeypatch.setattr(shutil, "rmtree", crash)
    doc = {"roots": [c], "folded": [3]}
    with pytest.raises(OSError, match="crash at gc"):
        state.commit(manifest, doc, [a, b])
    assert state.load(manifest) == doc
    assert all(os.path.exists(p) for p in doc["roots"])


def test_gc_keeps_every_path_the_new_doc_names(tmp_path):
    old, live = _roots(tmp_path, "old", "live")
    manifest = str(tmp_path / "m.json")
    doc = {"root": live, "code_paths": [f"{live}/codes.parquet"]}
    # `live` is named directly; tmp_path is named through code_paths
    gone = state.commit(manifest, doc, [old, live, str(tmp_path)])
    assert gone == [old]
    assert os.path.exists(live) and not os.path.exists(old)


def test_reset_removes_matches_and_manifest_only(tmp_path):
    base = str(tmp_path / "st")
    stale = _roots(tmp_path, "st_d0", "st_d1", "st_c2", "out")
    keep = _roots(tmp_path, "st", "st2_d0", "other")
    manifest = f"{base}_manifest.json"
    state.commit(manifest, {"roots": stale})
    state.reset(manifest, f"{base}_d*", f"{base}_c*", str(tmp_path / "out"))
    assert not os.path.exists(manifest)
    assert not any(os.path.exists(p) for p in stale)
    assert all(os.path.exists(p) for p in keep)
    state.reset(manifest, f"{base}_d*")  # idempotent on a clean slate
