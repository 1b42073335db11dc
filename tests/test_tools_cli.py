"""Command-line guards of the repo's tools that must fail fast,
before a Spark session starts."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_contract_json_out_without_file_exits_with_usage():
    for argv in (["--json-out"], ["some_sf_dir", "--json-out"]):
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check_contract.py"),
             *argv],
            capture_output=True, text=True, timeout=120,
        )
        assert p.returncode == 2, p.stderr
        assert "--json-out needs a FILE" in p.stderr
        assert "usage:" in p.stderr and "Traceback" not in p.stderr
