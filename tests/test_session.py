"""Session defaults that do not need a running JVM."""

from __future__ import annotations

import json
import os

from investigraph_etl_spark.session import default_master


def test_default_master_env_then_host_cores(monkeypatch):
    """``SPARK_GRAFT_CPUS`` wins when set; unset or empty, the master
    is sized to the cores this process may run on, not a fixed count."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_master() == "local[3]"
    host = f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_master() == host
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_master() == host


def test_settings_reports_resolved_master(monkeypatch, capsys):
    """The ``settings`` dump shows the master a run would get."""
    from investigraph_etl_spark.run import main

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    main(["settings"])
    assert json.loads(capsys.readouterr().out.strip())["master"] == "local[3]"
