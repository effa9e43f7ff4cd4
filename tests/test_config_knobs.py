"""The README's Configuration table lists exactly the ZELPH_* environment
variables the engine reads (no Spark session needed)."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_READ = re.compile(r"""(?:environ\.get\(|getenv\(|environ\[)\s*["'](ZELPH_\w+)["']""")


def _engine_knobs() -> set[str]:
    found: set[str] = set()
    for p in (REPO / "zelph_spark").rglob("*.py"):
        found |= set(_READ.findall(p.read_text()))
    return found


def _documented_knobs() -> set[str]:
    text = (REPO / "README.md").read_text()
    section = text.split("\n## Configuration\n", 1)[1].split("\n## ", 1)[0]
    return set(re.findall(r"^\| `(ZELPH_\w+)`", section, flags=re.M))


def test_readme_lists_every_engine_knob():
    documented = _documented_knobs()
    assert documented  # the table parsed at all
    assert documented == _engine_knobs()
