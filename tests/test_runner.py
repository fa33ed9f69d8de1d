"""Repository tooling tests: the `tools/run_query.py` CLI and the rule
that tools and tests locate the checkout from their own file path."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_run_query_cli_list_and_errors():
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/run_query.py", "--list", "tpch"],
        capture_output=True, text=True, cwd=ROOT,
    )
    assert out.returncode == 0
    assert out.stdout.count("q_tpch_") == 22  # the full TPC-H set listed
    bad = subprocess.run(
        [sys.executable, "tools/run_query.py", "star_join"],
        capture_output=True, text=True, cwd=ROOT,
    )
    assert bad.returncode != 0
    assert "did you mean" in bad.stderr


def test_tools_and_tests_do_not_hard_code_the_checkout_path():
    # tools and tests derive the repo root from __file__: a checkout
    # anywhere else must import, check and write its own tree
    offenders = []
    for sub in ("tools", "tests"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, sub)):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for name in files:
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8", errors="replace") as fh:
                    if ROOT in fh.read():
                        offenders.append(os.path.relpath(path, ROOT))
    assert offenders == []
