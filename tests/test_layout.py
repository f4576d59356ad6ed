"""Repository layout: every reader module is reachable from the format
dispatch, and the package declares no optional runtime dependency. Both
are read from the source; nothing is imported or run."""

import ast
import os
import tomllib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
READERS = os.path.join(ROOT, "cartodb_importer_spark", "readers")
PACKAGE = "cartodb_importer_spark.readers"


def _reader_imports(module: str) -> set[str]:
    """The readers/ modules that readers/<module>.py imports, at any depth
    of its body."""
    with open(os.path.join(READERS, f"{module}.py")) as f:
        tree = ast.parse(f.read())
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level == 1:
                if node.module:
                    found.add(node.module.split(".")[0])
                else:
                    found.update(a.name for a in node.names)
            elif node.level == 0 and (node.module or "").startswith(PACKAGE + "."):
                found.add(node.module[len(PACKAGE) + 1 :].split(".")[0])
        elif isinstance(node, ast.Import):
            found.update(
                a.name[len(PACKAGE) + 1 :].split(".")[0]
                for a in node.names
                if a.name.startswith(PACKAGE + ".")
            )
    return found


def test_every_reader_module_is_reached_from_the_router():
    modules = {
        os.path.splitext(n)[0]
        for n in os.listdir(READERS)
        if n.endswith(".py") and n != "__init__.py"
    }
    reached, todo = {"router"}, ["router"]
    while todo:
        for name in _reader_imports(todo.pop()) & modules:
            if name not in reached:
                reached.add(name)
                todo.append(name)
    assert modules - reached == set()


def test_only_the_test_extra_is_optional():
    with open(os.path.join(ROOT, "pyproject.toml"), "rb") as f:
        project = tomllib.load(f)["project"]
    assert list(project.get("optional-dependencies", {})) == ["test"]
