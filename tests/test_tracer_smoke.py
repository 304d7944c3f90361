"""The benchmark's tracer (``perfbench/spans.py``) wraps the entry points of
every layer by name; ``install()`` must find all of them. It runs in a
subprocess so the wrappers stay out of the other tests."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_tracer_installs_against_the_package():
    code = (
        "import sys\n"
        f"sys.path[:0] = [{str(ROOT)!r}, {str(ROOT / 'perfbench')!r}]\n"
        "import spans\n"
        "tracer = spans.install()\n"
        "assert isinstance(tracer, spans.Tracer)\n"
        "print('installed')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "installed"
