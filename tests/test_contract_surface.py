"""The contract surface of ``__spark_entry__``: every declared query has a
DuckDB oracle, the whole set fits the driver's per-round check window, and
no timed benchmark leaf has dropped out of it."""

import importlib.util
import os

import __spark_entry__ as entry
from bench import HEADLINE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# queries the driver checks per round; a larger surface rotates cells out
DRIVER_WINDOW = 50


def _board_leaves() -> set[str]:
    spec = importlib.util.spec_from_file_location(
        "perfbench_inputs", os.path.join(REPO, "perfbench", "inputs.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return set(mod.BOARD_LEAVES)


def test_contract_surface_fits_driver_window():
    declared = entry.queries().keys()
    assert len(declared) <= DRIVER_WINDOW
    assert declared == entry.oracle_sql().keys()
    assert set(HEADLINE) <= declared
    assert _board_leaves() <= declared
