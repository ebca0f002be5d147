"""Env-knob budget: every ``SPARK_GRAFT_*`` setting the engine names is
listed here on purpose. Only the three deployment settings (master,
cores, driver memory) are env knobs; engine gates are module constants.
A new knob has to be added to ``ALLOWED`` deliberately, not slip in with
a code path."""

import ast
import pathlib
import re

ALLOWED = {
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
}


def test_env_knob_budget():
    root = pathlib.Path(__file__).resolve().parent.parent / "docetl_spark"
    found = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                found.update(re.findall(r"SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]", node.value))
    assert found == ALLOWED
