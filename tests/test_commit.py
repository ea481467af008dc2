"""The one commit protocol (data/commit.py): durable ordering of the JSON
commit, the batch-token fence, and a guard that no module grows its own
copy of either."""

import json
import os
import pathlib
import stat

import pytest

from tmframe_spark.data import commit
from tmframe_spark.data.commit import append_batch, vacuum, write_json
from tmframe_spark.ops.checkpoint import (
    PartitionManifest,
    done_partitions,
    read_manifests,
    write_manifest,
)


def _manifest(partition: str, rows: int) -> PartitionManifest:
    return PartitionManifest(partition, rows, rows, 8 * rows, 1.0, float(rows), "t", {})


def test_write_json_fsyncs_file_then_renames_then_fsyncs_dir(tmp_path, monkeypatch):
    calls = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        st = os.fstat(fd)
        kind = "dir" if stat.S_ISDIR(st.st_mode) else "file"
        calls.append(("fsync", kind, st.st_ino))
        real_fsync(fd)

    def replace(src, dst):
        calls.append(("replace", "file", os.stat(src).st_ino))
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    path = tmp_path / "sub" / "m.json"
    write_json(str(path), {"b": 1, "a": [2]})

    assert [c[:2] for c in calls] == [
        ("fsync", "file"), ("replace", "file"), ("fsync", "dir")
    ]
    # the fsynced file IS the renamed one, and the fsynced dir its parent
    assert calls[0][2] == calls[1][2] == os.stat(path).st_ino
    assert calls[2][2] == os.stat(path.parent).st_ino
    assert path.read_text() == json.dumps({"a": [2], "b": 1}, sort_keys=True)
    assert not (tmp_path / "sub" / "m.json.tmp").exists()


def test_interrupted_commit_keeps_previous_record(tmp_path, monkeypatch):
    root = str(tmp_path / "manifests")
    write_manifest(root, _manifest("day=2024-01-01", 10))
    before = read_manifests(root)

    def replace(src, dst):
        raise OSError("power lost before the rename")

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(OSError, match="power lost"):
        write_manifest(root, _manifest("day=2024-01-01", 99))
    with pytest.raises(OSError, match="power lost"):
        write_manifest(root, _manifest("day=2024-01-02", 5))
    monkeypatch.undo()

    leftovers = sorted(fn for fn in os.listdir(root) if fn.endswith(".json.tmp"))
    assert len(leftovers) == 2
    assert read_manifests(root) == before
    assert before["day=2024-01-01"]["input_rows"] == 10
    assert done_partitions(root) == {"day=2024-01-01"}


def _write_dirs(index, tables, token):
    for t in tables:
        os.makedirs(os.path.join(index, t, f"batch={token}"))


def test_append_batch_fence_replay_crash_and_vacuum(tmp_path):
    tables = ("a", "b")
    index = str(tmp_path / "idx")
    commit.write_meta(index, {"k": 4, "batches": ["t0"]})
    _write_dirs(index, tables, "t0")
    _write_dirs(index, ("a",), "t1")  # crashed attempt: partial, uncommitted
    _write_dirs(index, tables, "orphan")
    seen = []

    def failing(meta, token):
        raise RuntimeError("crash mid-write")

    def write(meta, token):
        assert token not in commit.read_meta(index)["batches"]  # not yet
        seen.append((meta["k"], token))
        _write_dirs(index, tables, token)

    with pytest.raises(RuntimeError):
        append_batch(index, tables, "t1", failing)
    assert not os.path.exists(os.path.join(index, "a", "batch=t1"))  # cleared
    assert commit.read_meta(index)["batches"] == ["t0"]  # never committed

    meta = append_batch(index, tables, "t1", write)
    assert meta["batches"] == ["t0", "t1"] == commit.read_meta(index)["batches"]
    assert append_batch(index, tables, "t1", write) == meta  # replay: no write
    fresh = append_batch(index, tables, None, write)
    assert seen == [(4, "t1"), (4, fresh["batches"][2])]  # fresh uuid token
    assert fresh["batches"][:2] == ["t0", "t1"] and len(fresh["batches"]) == 3

    assert vacuum(index, tables + ("missing",)) == ["orphan"]
    for t in tables:
        toks = {d.split("=", 1)[1] for d in os.listdir(os.path.join(index, t))}
        assert toks == set(fresh["batches"])
    assert vacuum(index, tables) == []


def test_commit_protocol_lives_only_in_data_commit():
    # every JSON commit / batch fence goes through data/commit.py; a module
    # carrying its own tmp-file + rename would bypass the fsyncs
    pkg = pathlib.Path(__file__).resolve().parents[1] / "tmframe_spark"
    own = pkg / "data" / "commit.py"
    offenders = []
    for src in sorted(pkg.rglob("*.py")):
        if src == own:
            continue
        text = src.read_text()
        for needle in ("os.replace(", "os.rename(", '".tmp"', "'.tmp'"):
            if needle in text:
                offenders.append(f"{src.relative_to(pkg)}: {needle}")
    assert offenders == []
    assert "os.replace(" in own.read_text()  # the guard scans the real tree
