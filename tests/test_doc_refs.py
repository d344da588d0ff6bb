"""Every ``scripts/<name>.py`` the package, README, COVERAGE or docs/
cite must exist. BASELINE.md, SURVEY.md and VERDICT.md are historical
records and may name scripts that have since been deleted."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
# a citation may wrap after the slash
SCRIPT_REF = re.compile(r"scripts/\s*(\w+\.py)")


def _cited_files():
    yield ROOT / "README.md"
    yield ROOT / "COVERAGE.md"
    yield from sorted((ROOT / "docs").rglob("*.md"))
    yield from sorted((ROOT / "symtseries_spark").rglob("*.py"))


def test_cited_scripts_exist():
    missing = [
        f"{path.relative_to(ROOT)}: scripts/{name}"
        for path in _cited_files()
        for name in SCRIPT_REF.findall(path.read_text())
        if not (ROOT / "scripts" / name).is_file()
    ]
    assert not missing, "\n".join(missing)
