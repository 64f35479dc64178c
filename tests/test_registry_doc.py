"""REGISTRY.md is generated: it must equal what scripts/gen_registry.py
prints for the current registry (entry list, oracle flags, banners)."""

from __future__ import annotations

import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_registry_md_matches_generator():
    out = subprocess.run(
        [sys.executable, "scripts/gen_registry.py"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert (ROOT / "REGISTRY.md").read_text() == out, (
        "REGISTRY.md is stale: python scripts/gen_registry.py > REGISTRY.md"
    )
