"""``bench/scaling.py`` is safe to ask for its usage."""

import subprocess
import sys
from pathlib import Path

SCRIPT = Path(__file__).resolve().parent.parent / "bench" / "scaling.py"


def test_help_starts_nothing(tmp_path):
    workdir = tmp_path / "scaling"
    proc = subprocess.run(
        [sys.executable, str(SCRIPT), "--workdir", str(workdir), "--help"],
        capture_output=True, text=True, timeout=120, cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr
    for flag in ("--turns", "--cores", "--workdir"):
        assert flag in proc.stdout
    assert not workdir.exists()
    assert list(tmp_path.iterdir()) == []
