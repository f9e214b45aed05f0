"""Every top-level function, class or module constant in
``pgweasel_spark/``, public or private, must be read by code outside
``tests/``: a query, job, CLI command, benchmark or tool, or another
definition that is. Code that only its own tests read is deleted, not kept.

The scan is syntactic and needs no Spark: it collects every identifier
read (loaded names, attribute names, imported names) in the repository's
non-test ``.py`` files and flags each definition whose name never appears.
An assignment does not count as a read, so a constant nothing reads is
flagged.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "pgweasel_spark"

#: whole modules kept without callers, with the reason
ALLOWED_MODULES = {
    "grammar.py": "the pure-Python semantic oracle the JVM paths are "
    "tested against",
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
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.split(".")[-1])
    return used


def _definition_names(node):
    """The names a module-level statement defines: a function or class,
    or the plain-name targets of an assignment (dunders such as
    ``__all__`` are read by the interpreter, not by code)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [
        t.id
        for t in targets
        if isinstance(t, ast.Name) and not t.id.startswith("__")
    ]


def _definitions():
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        for node in ast.parse(path.read_text(), str(path)).body:
            for name in _definition_names(node):
                yield module, node.lineno, name


def test_every_public_definition_has_a_non_test_caller():
    """Public and private definitions and module constants alike."""
    used = _used_identifiers()
    definitions = list(_definitions())
    unreached = [
        f"pgweasel_spark/{module}:{line} {name}"
        for module, line, name in definitions
        if name not in used
        and module not in ALLOWED_MODULES
        and name not in ALLOWED_NAMES
    ]
    assert not unreached, (
        "definitions with no reader outside tests/ (delete them, "
        "or allowlist them with a reason):\n" + "\n".join(unreached)
    )
    # the allowlist names only code that still exists
    assert all((PACKAGE / module).is_file() for module in ALLOWED_MODULES)
    stale = set(ALLOWED_NAMES) - {name for _, _, name in definitions}
    assert not stale, stale
