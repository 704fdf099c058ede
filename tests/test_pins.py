"""Every cache/persist/localCheckpoint call in the package has a row in
SCALE.md's pin table, and every row names a call that exists.

A pin is a materialization barrier inside a plan Catalyst would
otherwise fuse, so each one must say why it exists: a correctness pin,
a loop lineage cut, or a performance pin that won its A/B. Static: no
Spark session; the package is read as source.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "redshift_to_pendo_api_data_pipeline_spark"
PIN_METHODS = {"cache", "persist", "localCheckpoint"}
CLASSES = {"correctness", "loop lineage cut", "performance"}


def _count_pins(node, key: str, pins: Counter) -> None:
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            _count_pins(child, f"{key.rsplit('.', 1)[0]}.{child.name}", pins)
            continue
        if (
            isinstance(child, ast.Call)
            and isinstance(child.func, ast.Attribute)
            and child.func.attr in PIN_METHODS
        ):
            pins[key] += 1
        _count_pins(child, key, pins)


def package_pins() -> Counter:
    """``module.function`` -> number of pin calls in that function
    (module relative to the package, function the innermost def)."""
    pins: Counter = Counter()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        tree = ast.parse(path.read_text(), str(path))
        _count_pins(tree, f"{module}.<module>", pins)
    return pins


def table_rows() -> dict[str, tuple[int, str]]:
    """``module.function`` -> (pins, class) from the first table under
    SCALE.md's "11. Pin table" heading."""
    text = (ROOT / "SCALE.md").read_text()
    section = text.split("## 11. Pin table", 1)[1]
    table = section[section.index("\n|") + 1:].split("\n\n", 1)[0]
    rows = {}
    for line in table.splitlines()[2:]:
        m = re.match(r"\|\s*`([\w.]+)`\s*\|\s*(\d+)\s*\|\s*([^|]+?)\s*\|", line)
        assert m, f"malformed pin-table row: {line}"
        assert m.group(1) not in rows, f"duplicate row {m.group(1)}"
        rows[m.group(1)] = (int(m.group(2)), m.group(3))
    return rows


def test_every_pin_has_a_table_row():
    found = package_pins()
    rows = table_rows()
    assert found, "AST walk found no pins at all"
    assert dict(found) == {k: n for k, (n, _) in rows.items()}


def test_pin_classes_are_known():
    bad = {k: c for k, (_, c) in table_rows().items() if c not in CLASSES}
    assert not bad
