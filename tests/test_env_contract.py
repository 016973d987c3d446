"""The engine's environment surface is a fixed, documented set of names.

Every environment variable the package reads must be one of ``CONTRACT``
and appear in README's "Environment" list, so a new knob cannot creep in
unnoticed. No Spark needed: the reads are found by walking the AST."""

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "tesserae_ng_spark")

CONTRACT = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_LOCAL_DIR",
    "SPARK_DRIVER_MEM",
    "TNG_MALLOC_TUNE",
    "TNG_NO_MALLOC_TUNE",
}


def _is_environ(node) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _env_reads(tree) -> tuple[set, list]:
    """→ (names read, line numbers of reads whose name is not a literal)
    for os.environ[...], os.environ.get/setdefault/pop, ``in os.environ``
    and os.getenv."""
    names, dynamic = set(), []

    def take(arg, lineno):
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            names.add(arg.value)
        else:
            dynamic.append(lineno)

    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            take(node.slice, node.lineno)
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            env_method = _is_environ(f.value) and f.attr in (
                "get", "setdefault", "pop",
            )
            if (env_method or f.attr == "getenv") and node.args:
                take(node.args[0], node.lineno)
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            take(node.left, node.lineno)
    return names, dynamic


def _engine_env_reads() -> dict:
    found: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                names, dynamic = _env_reads(ast.parse(f.read(), path))
            rel = os.path.relpath(path, REPO)
            assert not dynamic, f"{rel}: env read by computed name at {dynamic}"
            for n in names:
                found.setdefault(n, []).append(rel)
    return found


def test_collector_sees_every_read_shape():
    src = (
        "import os\n"
        "a = os.environ['A']\n"
        "b = os.environ.get('B', '1')\n"
        "os.environ.setdefault('C', '1')\n"
        "d = os.getenv('D')\n"
        "e = 'E' in os.environ\n"
        "import os as _os\n"
        "f = _os.environ.get('F')\n"
    )
    names, dynamic = _env_reads(ast.parse(src))
    assert names == {"A", "B", "C", "D", "E", "F"}
    assert dynamic == []
    _, dynamic = _env_reads(ast.parse("import os\nk = 'X'\nos.environ.get(k)\n"))
    assert dynamic == [3]


def test_engine_env_reads_are_the_contract():
    found = _engine_env_reads()
    assert set(found) == CONTRACT, {
        n: found.get(n) for n in set(found) ^ CONTRACT
    }


def test_readme_lists_every_contract_name():
    with open(os.path.join(REPO, "README.md")) as f:
        readme = f.read()
    m = re.search(r"^## Environment\n(.*?)(?=^## )", readme, re.M | re.S)
    assert m, "README has no '## Environment' section"
    listed = set(re.findall(r"^- `([A-Z_]+)`", m.group(1), re.M))
    assert listed == CONTRACT
