"""Every test module must import.

The tier-1 suite runs with ``--continue-on-collection-errors``, so a test
module that fails to import (say, it still imports a deleted name) drops
out of the run without failing it. This test turns that into a failure
that names the module.
"""

import importlib
from pathlib import Path


def test_every_test_module_imports():
    broken = {}
    for path in sorted(Path(__file__).resolve().parent.glob("test_*.py")):
        try:
            importlib.import_module(path.stem)
        except Exception as e:
            broken[path.name] = f"{type(e).__name__}: {e}"
    assert not broken, f"test modules that do not import: {broken}"
