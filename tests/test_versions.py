"""The versioned-publish protocol of the streaming stores
(streaming/versions.py) on plain directories — no Spark session."""

from __future__ import annotations

import os

import pytest

from data_pipelines_worker_spark.streaming import versions


def _write_version(store, batch_id: int) -> str:
    path = versions.version_dir(str(store), batch_id)
    os.makedirs(path)
    return path


def test_publish_then_current_names_the_version(tmp_path):
    assert versions.current(str(tmp_path)) is None
    path = _write_version(tmp_path, 0)
    assert path == str(tmp_path / "v0")
    versions.publish(str(tmp_path), 0)
    assert versions.current(str(tmp_path)) == path
    assert (tmp_path / "CURRENT").read_text() == "v0"
    assert not (tmp_path / "CURRENT.tmp").exists()


def test_pointer_to_a_missing_directory_is_unpublished(tmp_path):
    (tmp_path / "CURRENT").write_text("v7")
    assert versions.current(str(tmp_path)) is None
    assert not versions.applied(str(tmp_path), 7)


def test_replay_guard_names_only_the_published_batch(tmp_path):
    assert not versions.applied(str(tmp_path), 0)
    _write_version(tmp_path, 0)
    versions.publish(str(tmp_path), 0)
    assert versions.applied(str(tmp_path), 0)
    assert not versions.applied(str(tmp_path), 1)
    _write_version(tmp_path, 1)
    versions.publish(str(tmp_path), 1)
    assert versions.applied(str(tmp_path), 1)
    assert not versions.applied(str(tmp_path), 0)


def test_prune_keeps_the_new_and_the_replaced_version(tmp_path):
    (tmp_path / "vault").mkdir()  # not a version: never pruned
    (tmp_path / "scores").mkdir()
    for batch_id in range(4):
        _write_version(tmp_path, batch_id)
        versions.publish(str(tmp_path), batch_id)
        kept = {f"v{batch_id}", f"v{batch_id - 1}"} if batch_id else {"v0"}
        assert {n for n in os.listdir(tmp_path) if n[1:].isdigit()} == kept
    assert sorted(os.listdir(tmp_path)) == ["CURRENT", "scores", "v2", "v3", "vault"]
    assert versions.current(str(tmp_path)) == str(tmp_path / "v3")


def test_read_without_a_published_version_raises(tmp_path):
    with pytest.raises(FileNotFoundError, match="no published version"):
        versions.read(None, str(tmp_path))
