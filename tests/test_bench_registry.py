"""``scripts/bench_registry.py`` command-line checks that need no Spark."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_only_rejects_unknown_names_before_spark_starts():
    """A misspelt ``--only`` name is an error (exit 2, named on stdout), not
    a sweep that silently measures fewer queries and exits 0. The check runs
    before the session starts, so no Spark log line appears."""
    out = subprocess.run(
        [
            sys.executable,
            str(ROOT / "scripts" / "bench_registry.py"),
            "--only",
            "q01_pricing_summary,q_no_such_query",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 2, f"stdout={out.stdout[-2000:]}\nstderr={out.stderr[-2000:]}"
    assert "q_no_such_query" in out.stdout
    assert "q01_pricing_summary" not in out.stdout
    assert "log4j" not in out.stderr
