"""Session defaults: the local core count follows the host unless set."""

from __future__ import annotations

import os

from paddleocr_spark.session import default_cores


def test_default_cores_is_the_host_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == os.cpu_count()


def test_default_cores_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
