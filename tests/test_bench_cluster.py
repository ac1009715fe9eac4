"""bench.stop_cluster reaps the standalone daemons bench.ensure_cluster
started (no Java needed: spark-class is a sleeping shell script)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def test_stop_cluster_reaps_its_children(tmp_path, monkeypatch):
    home = tmp_path / "spark"
    (home / "bin").mkdir(parents=True)
    cls = home / "bin" / "spark-class"
    cls.write_text("#!/bin/sh\nexec sleep 60\n")
    cls.chmod(0o755)

    started: list[subprocess.Popen] = []
    workers = []

    class RecordingPopen(subprocess.Popen):
        def __init__(self, args, **kwargs):
            super().__init__(args, **kwargs)
            started.append(self)
            if "org.apache.spark.deploy.worker.Worker" in args:
                workers.append(self)  # registers with the master at once

    runs = []
    port_checks = iter([False])  # master down at first, then up
    monkeypatch.setattr(subprocess, "Popen", RecordingPopen)
    # never signal a host process this test did not start
    monkeypatch.setattr(subprocess, "run", lambda cmd, **kw: runs.append(cmd))
    monkeypatch.setattr(bench, "_spark_home", lambda: str(home))
    monkeypatch.setattr(bench, "_port_open", lambda port: next(port_checks, True))
    monkeypatch.setattr(bench, "_alive_workers", lambda: len(workers))
    monkeypatch.setattr(bench, "CLUSTER_LOG_DIR", str(tmp_path / "logs"), raising=False)
    monkeypatch.setattr(bench, "_CLUSTER_PROCS", [], raising=False)
    try:
        bench.ensure_cluster(n_workers=2, cores=1, mem="1g")
        assert len(started) == 3 and len(workers) == 2  # master + 2 workers
        assert all(p.poll() is None for p in started)
        bench.stop_cluster()
        assert [p.args[1] for p in started if p.returncode is None] == []
        assert runs and all(cmd[0] == "pkill" for cmd in runs)
    finally:
        for p in started:
            if p.poll() is None:
                p.kill()
                p.wait()
