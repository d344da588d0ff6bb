"""Every ``scripts/<name>.py`` the package, README, COVERAGE or docs/
cite must exist, and every function docs/MIGRATION.md lists as removed
must be gone from the public modules and from those pages. BASELINE.md,
SURVEY.md and VERDICT.md are historical records and may name scripts
and functions that have since been deleted."""

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


# a "Removed:" sentence runs to the first full stop outside backticks
REMOVED = re.compile(r"Removed:((?:`[^`]*`|[^`.]|\.(?!\s|$))*)")
# a bare backticked name; `f(option=)` names an option, not a function
BARE_NAME = re.compile(r"`([A-Za-z_]\w*)`")


def test_removed_names_are_gone():
    """Every function a docs/MIGRATION.md "Removed:" sentence names is
    no attribute of the public modules, and README, COVERAGE and the
    other docs/ pages do not cite it in backticks."""
    import symtseries_spark.functions
    import symtseries_spark.operators
    import symtseries_spark.sources
    import symtseries_spark.streaming

    text = (ROOT / "docs" / "MIGRATION.md").read_text()
    names = {n for s in REMOVED.findall(text) for n in BARE_NAME.findall(s)}
    assert "sax_word_mindist" in names, names
    modules = [
        symtseries_spark.functions,
        symtseries_spark.operators,
        symtseries_spark.sources,
        symtseries_spark.streaming,
    ]
    alive = [f"{m.__name__}.{n}" for m in modules for n in sorted(names) if hasattr(m, n)]
    assert not alive, alive
    pages = [ROOT / "README.md", ROOT / "COVERAGE.md", *sorted((ROOT / "docs").glob("*.md"))]
    cited = [
        f"{page.relative_to(ROOT)}: {n}"
        for page in pages
        if page.name != "MIGRATION.md"
        for n in sorted(names)
        if f"`{n}`" in page.read_text()
    ]
    assert not cited, "\n".join(cited)
