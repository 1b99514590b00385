"""Operators take their settings as arguments, never from the process
environment: an environment variable is a tuning knob no test or
benchmark sets, so its effect goes unmeasured."""

from __future__ import annotations

import ast
import pathlib

import pytest

OPERATORS = sorted(
    (pathlib.Path(__file__).parent.parent / "gxdindexer_spark" / "operators")
    .glob("*.py")
)


ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _env_reads(path: pathlib.Path) -> list[int]:
    """Line numbers in ``path`` that reach the environment through
    ``os`` (``os.environ``, ``os.getenv``, ``from os import environ``)."""
    lines = []
    for node in ast.walk(ast.parse(path.read_text())):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ENV_NAMES
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ) or (
            isinstance(node, ast.ImportFrom)
            and node.module == "os"
            and any(a.name in ENV_NAMES for a in node.names)
        ):
            lines.append(node.lineno)
    return lines


def test_operator_modules_are_found():
    assert any(p.name == "index_build.py" for p in OPERATORS)


@pytest.mark.parametrize("path", OPERATORS, ids=lambda p: p.name)
def test_operators_read_no_environment(path):
    assert _env_reads(path) == [], f"{path.name} reads os.environ"
