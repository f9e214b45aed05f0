"""Every public top-level function or class in ``pgweasel_spark/`` must be
used by code outside ``tests/``: a query, job, CLI command, streaming path,
benchmark or tool. Code that only its own tests call is deleted, not kept.

The scan is syntactic and needs no Spark: it collects every identifier
(names, attribute names, imported names) in the repository's non-test
``.py`` files and flags each public definition whose name never appears.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "pgweasel_spark"

#: whole modules kept without callers, with the reason
ALLOWED_MODULES = {
    "grammar.py": "the pure-Python semantic oracle the JVM paths are "
    "tested against",
    "streaming/stream.py": "the streaming variant of the pipeline, kept "
    "as a supported entry point",
}

#: single definitions kept without callers, with the reason
ALLOWED_NAMES = {
    "brute_force_topk": "exact top-k that the LSH and IVF tests compare "
    "against",
    "read_raw_logs": "loose-log source, parity with the reference's "
    "S2-S3 inputs",
    "read_zip_logs": "zip source, parity with the reference's S4 input; "
    "carries the zip-bomb member cap",
    "read_sink": "reads one routed sink back from a pipeline output",
}


def _used_identifiers() -> set[str]:
    used = set()
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT)
        if (
            any(part.startswith(".") for part in rel.parts)
            or rel.parts[0] == "tests"
            or path.name.startswith("test_")
            or path.name == "conftest.py"
        ):
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.split(".")[-1])
    return used


def _public_definitions():
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                yield module, node.lineno, node.name


def test_every_public_definition_has_a_non_test_caller():
    used = _used_identifiers()
    definitions = list(_public_definitions())
    unreached = [
        f"pgweasel_spark/{module}:{line} {name}"
        for module, line, name in definitions
        if name not in used
        and module not in ALLOWED_MODULES
        and name not in ALLOWED_NAMES
    ]
    assert not unreached, (
        "public definitions with no caller outside tests/ (delete them, "
        "or allowlist them with a reason):\n" + "\n".join(unreached)
    )
    # the allowlist names only code that still exists
    assert all((PACKAGE / module).is_file() for module in ALLOWED_MODULES)
    stale = set(ALLOWED_NAMES) - {name for _, _, name in definitions}
    assert not stale, stale
