"""Spark session set-up: a driver started outside the repository."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_crawl_script_runs_outside_repo_without_pythonpath(tmp_path):
    """scripts/run_crawl.py started from another directory with PYTHONPATH
    unset: the Python workers must still import sher_look_spark (they used
    to fail to, and the crawl then hung instead of finishing)."""
    from sher_look_spark.crawler.storage import SnapshotStore

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    state = tmp_path / "state"
    cmd = [
        sys.executable, str(ROOT / "scripts" / "run_crawl.py"), "crawl",
        "--state", str(state), "--max-pages", "20", "--max-depth", "1",
        "--synth-hosts", "4", "--synth-pages", "6",
    ]
    proc = subprocess.Popen(
        cmd, cwd=tmp_path, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, start_new_session=True,
    )
    try:
        _, err = proc.communicate(timeout=240)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise AssertionError("the crawl hung") from None
    assert proc.returncode == 0, err[-3000:]
    assert "ModuleNotFoundError" not in err
    assert SnapshotStore(str(state)).latest().tables.get("pages")
