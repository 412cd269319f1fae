"""PipelineConfig hygiene: every option has a reader in the engine."""

from __future__ import annotations

import dataclasses
import pathlib
import re

from address_match_recommend_spark.config import PipelineConfig

PKG = pathlib.Path(__file__).resolve().parent.parent / "address_match_recommend_spark"


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
