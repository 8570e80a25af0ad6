"""The commit-file writer: ``atomic_write_json`` replaces a file whole
or not at all, and fsyncs what it renames."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from cdcrypt.table.commitfile import atomic_write_json
from cdcrypt.table.lake import LakeTable


def test_failed_dump_leaves_target_and_no_temp_file(tmp_path):
    path = str(tmp_path / "state.json")
    atomic_write_json(path, {"v": 1})
    with open(path, "rb") as f:
        before = f.read()
    # json.dump writes '{"v": 2, "bad": ' before it meets the object
    with pytest.raises(TypeError):
        atomic_write_json(path, {"v": 2, "bad": object()})
    with open(path, "rb") as f:
        assert f.read() == before
    assert os.listdir(tmp_path) == ["state.json"]


def _count_fsyncs(monkeypatch) -> list:
    calls: list = []
    real = os.fsync

    def counting(fd):
        calls.append(fd)
        return real(fd)

    monkeypatch.setattr(os, "fsync", counting)
    return calls


def test_one_fsync_per_write(tmp_path, monkeypatch):
    calls = _count_fsyncs(monkeypatch)
    path = str(tmp_path / "c.json")
    for i in range(3):
        atomic_write_json(path, {"i": i}, indent=1)
    assert len(calls) == 3
    with open(path) as f:
        assert json.load(f) == {"i": 2}
    assert os.listdir(tmp_path) == ["c.json"]


def test_commit_fsyncs_snapshot_and_pointer(tmp_path, monkeypatch):
    schema = StructType([StructField("conv_id", StringType(), False),
                         StructField("turn_idx", IntegerType(), False)])
    t = LakeTable.create(str(tmp_path / "t"), schema, bucket_count=2)
    calls = _count_fsyncs(monkeypatch)
    t.commit(epoch=0, keep_files=[], new_files=[], lineage={})
    assert len(calls) == 2  # v1.json, then current
    t.create_tag("rel")
    t.register_consumer("feed", 1)
    assert len(calls) == 4
    assert sorted(os.listdir(t.meta_dir)) == [
        "commit.lock", "consumers", "current", "refs.json", "v0.json",
        "v1.json"]
