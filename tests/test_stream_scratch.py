"""Stream replay scratch is bounded and cleaned up (streaming/ledger.py):
``/dev/shm`` is only chosen with room to spare, a replay removes its
checkpoint and staged input when the stream ends, and the exit hook
removes the rest without deleting through a symlink."""

from __future__ import annotations

import os
import shutil
import tempfile
from types import SimpleNamespace

import __spark_entry__ as entry
from flight_radar_pipeline_spark.streaming import ledger

SF_DIR = "/root/testdata/sf0.001"


def _statvfs(free_bytes: int):
    return lambda _path: SimpleNamespace(f_bavail=free_bytes // 4096, f_frsize=4096)


def test_nearly_full_shm_falls_back_to_tmpdir(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH", raising=False)
    monkeypatch.setattr(ledger, "_made", [])
    monkeypatch.setattr(os, "statvfs", _statvfs(1 << 20))
    assert os.path.dirname(ledger.scratch_dir("t_")) == tempfile.gettempdir()
    if os.access("/dev/shm", os.W_OK):
        monkeypatch.setattr(os, "statvfs", _statvfs(ledger.SHM_MIN_FREE_BYTES))
        assert os.path.dirname(ledger.scratch_dir("t_")) == "/dev/shm"
    # an explicit path is used as given, whatever /dev/shm holds
    monkeypatch.setattr(os, "statvfs", _statvfs(1 << 20))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path))
    assert os.path.dirname(ledger.scratch_dir("t_")) == str(tmp_path)
    ledger.remove_scratch()
    assert os.listdir(tmp_path) == []


def test_stream_replay_scratch_lifecycle(spark, monkeypatch, tmp_path, tmp_path_factory):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path))
    monkeypatch.setattr(ledger, "_made", [])
    queries = entry.queries()
    assert queries["orders_cdc_stream_apply"](spark, SF_DIR).count() > 0
    (work,) = os.listdir(tmp_path)
    # the three state versions the result reads; no checkpoint, no staged waves
    assert sorted(os.listdir(tmp_path / work)) == ["v1", "v2", "v3"]

    # the SCD1 replay streams its source through a symlink
    tables = tmp_path_factory.mktemp("tables")
    shutil.copy(f"{SF_DIR}/orders.parquet", tables)
    assert queries["orders_scd1_stream_merge"](spark, str(tables)).count() > 0

    ledger.remove_scratch()
    assert os.listdir(tmp_path) == []
    assert os.path.isfile(tables / "orders.parquet")
