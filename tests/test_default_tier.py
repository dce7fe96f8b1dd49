"""The default test tier (``tests/conftest.py``): a bare run over a
directory deselects slow-marked tests; naming a test file or a node id
selects them back."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = '''
import pytest


@pytest.mark.slow
def test_heavy():
    pass


def test_light():
    pass
'''


@pytest.fixture
def probe(tmp_path):
    (tmp_path / "pytest.ini").write_text("[pytest]\nmarkers =\n    slow: heavy\n")
    (tmp_path / "conftest.py").write_text(
        f"import sys\nsys.path.insert(0, {_REPO!r})\n"
        "from tests.conftest import pytest_collection_modifyitems  # noqa: F401\n"
    )
    (tmp_path / "test_probe.py").write_text(_PROBE)
    return tmp_path


def _summary(cwd, arg: str) -> str:
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_TEST_FULL", "PYTEST_ADDOPTS")
    }
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider", arg],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    return proc.stdout.strip().splitlines()[-1]


@pytest.mark.parametrize(
    "arg, summary",
    [
        ("test_probe.py::test_heavy", "1 passed in"),
        ("test_probe.py", "2 passed in"),
        (".", "1 passed, 1 deselected in"),
    ],
    ids=["node_id", "file", "directory"],
)
def test_slow_tests_run_only_when_named(probe, arg, summary):
    assert summary in _summary(probe, arg)
