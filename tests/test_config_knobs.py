"""Every PipelineConfig field must be read somewhere in the package outside
config.py: a knob that no stage reads is dead configuration."""

import ast
import dataclasses
from pathlib import Path

import berkeley_entity_spark
from berkeley_entity_spark.config import PipelineConfig

PKG = Path(berkeley_entity_spark.__file__).parent


def _attributes_read() -> set[str]:
    read = set()
    for path in PKG.rglob("*.py"):
        if path == PKG / "config.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    return read


def test_every_pipeline_config_field_is_read():
    fields = {f.name for f in dataclasses.fields(PipelineConfig)}
    unread = sorted(fields - _attributes_read())
    assert not unread, f"PipelineConfig fields no package code reads: {unread}"
