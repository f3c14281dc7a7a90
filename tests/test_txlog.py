"""Commit-log table format gates beyond the shared oracle-parity sweep:
concurrent commits serialize, replay honours removes, and a checkpointed
snapshot equals a full replay."""

from __future__ import annotations

import json
import os
import tempfile
import threading

from lambdatotheslaughter_spark.operators.scans import (
    txlog_commit, txlog_snapshot_files)


def test_txlog_concurrent_commits_serialize():
    """Eight threads racing txlog_commit must land eight DISTINCT
    versions with no loss and no duplicate slot — the optimistic
    create-if-absent retry is the whole protocol."""
    root = tempfile.mkdtemp(prefix="lts_txlog_race_")
    results = []
    lock = threading.Lock()

    def committer(i: int) -> None:
        v = txlog_commit(root, [{"op": "add", "path": f"f{i}"}])
        with lock:
            results.append(v)

    threads = [threading.Thread(target=committer, args=(i,))
               for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(results) == list(range(8)), results
    log = os.path.join(root, "_txlog")
    files = sorted(f for f in os.listdir(log) if f.endswith(".json"))
    assert len(files) == 8
    # every add action present exactly once across the log
    paths = []
    for f in files:
        paths += [a["path"] for a in
                  json.load(open(os.path.join(log, f)))["actions"]]
    assert sorted(paths) == sorted(f"f{i}" for i in range(8))


def test_txlog_replay_remove_semantics():
    root = tempfile.mkdtemp(prefix="lts_txlog_replay_")
    for p in ("a", "b", "c"):
        os.makedirs(os.path.join(root, p), exist_ok=True)
    assert txlog_commit(root, [{"op": "add", "path": "a"}]) == 0
    assert txlog_commit(root, [{"op": "add", "path": "b"}]) == 1
    assert txlog_commit(root, [{"op": "remove", "path": "a"},
                               {"op": "add", "path": "c"}]) == 2
    snap = lambda v: sorted(os.path.basename(p)
                            for p in txlog_snapshot_files(root, v))
    assert snap(0) == ["a"]
    assert snap(1) == ["a", "b"]
    assert snap(2) == ["b", "c"]


def test_txlog_checkpoint_equals_replay():
    """A checkpoint at ANY version must yield the same live-file set as
    a full log replay, at every subsequent version — including versions
    BEFORE the checkpoint (where the reader must ignore it)."""
    import shutil
    import tempfile

    from lambdatotheslaughter_spark.operators.scans import (
        txlog_snapshot_files_ckpt, txlog_write_checkpoint)

    root = tempfile.mkdtemp(prefix="lts_txlog_ckpt_")
    try:
        assert txlog_commit(root, [{"op": "add", "path": "a"}]) == 0
        assert txlog_commit(root, [{"op": "add", "path": "b"}]) == 1
        assert txlog_commit(root, [{"op": "remove", "path": "a"},
                                   {"op": "add", "path": "c"}]) == 2
        txlog_write_checkpoint(root, 1)
        assert txlog_commit(root, [{"op": "add", "path": "a"}]) == 3
        txlog_write_checkpoint(root, 3)
        assert txlog_commit(root, [{"op": "remove", "path": "b"}]) == 4
        for v in range(5):
            assert (txlog_snapshot_files_ckpt(root, v)
                    == txlog_snapshot_files(root, v)), f"version {v}"
    finally:
        shutil.rmtree(root, ignore_errors=True)
