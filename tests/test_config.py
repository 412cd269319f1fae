"""Engine hygiene: every option has a reader in the engine, and every
module has a caller outside the tests."""

from __future__ import annotations

import ast
import dataclasses
import pathlib
import re

from address_match_recommend_spark.config import PipelineConfig

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "address_match_recommend_spark"


def test_every_field_is_read():
    """A field nothing reads is a dead knob: each name must appear as
    ``cfg.<name>`` or ``getattr(cfg, "<name>"…)`` in the package, outside
    config.py itself."""
    source = "\n".join(
        p.read_text() for p in sorted(PKG.rglob("*.py")) if p.name != "config.py"
    )
    unread = [
        f.name
        for f in dataclasses.fields(PipelineConfig)
        if not re.search(
            rf"\bcfg\.{f.name}\b|getattr\(\s*cfg\s*,\s*[\"']{f.name}[\"']", source
        )
    ]
    assert not unread, f"PipelineConfig fields with no reader: {unread}"


def _module_name(path: pathlib.Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(path: pathlib.Path, modules: dict[str, pathlib.Path]) -> set[str]:
    """Package modules ``path`` imports anywhere in its body (function-
    level imports included), relative imports resolved; importing a
    module also imports every package above it."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    reached = set()
    for mod in found:
        parts = mod.split(".")
        reached.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return reached & modules.keys()


def test_every_module_has_a_caller():
    """A package module that no entry point (the driver contract,
    bench.py, scripts/, perfbench/) reaches through imports is dead code
    whose only caller is its own test."""
    modules = {_module_name(p): p for p in PKG.rglob("*.py")}
    entry_points = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    entry_points += sorted((ROOT / "scripts").glob("*.py"))
    entry_points += sorted((ROOT / "perfbench").glob("*.py"))
    frontier = set().union(*(_imported(p, modules) for p in entry_points))
    reached: set[str] = set()
    while frontier:
        mod = frontier.pop()
        reached.add(mod)
        frontier |= _imported(modules[mod], modules) - reached
    unreached = sorted(modules.keys() - reached)
    assert not unreached, f"package modules no entry point imports: {unreached}"
