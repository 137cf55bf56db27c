"""The engine reads only deployment settings from the environment (where
Java lives, how many cores and how much driver memory to use, the oracle's
scale factor). No environment switch may change how the engine executes,
for instance to make a run easier to measure."""

import ast
from pathlib import Path

import kfts_insar_spark

DEPLOYMENT_ENV = {
    "JAVA_HOME",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_ORACLE_SF",
}


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _is_getenv(func) -> bool:
    return (isinstance(func, ast.Attribute) and func.attr == "getenv") or (
        isinstance(func, ast.Name) and func.id == "getenv"
    )


def _key(node) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<computed: {ast.unparse(node)}>"


def env_reads(source: str) -> set[str]:
    """Names read through ``os.environ.get``, ``os.environ[...]``,
    ``os.getenv`` and ``in os.environ``. Writes (``setdefault``, item
    assignment) are not reads; a computed name is reported as such."""
    names = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if _is_getenv(f) or (
                isinstance(f, ast.Attribute) and f.attr == "get" and _is_environ(f.value)
            ):
                names.add(_key(node.args[0]))
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and _is_environ(node.value)
        ):
            names.add(_key(node.slice))
        elif isinstance(node, ast.Compare) and any(
            isinstance(op, (ast.In, ast.NotIn)) and _is_environ(c)
            for op, c in zip(node.ops, node.comparators)
        ):
            names.add(_key(node.left))
    return names


def test_engine_reads_only_deployment_env():
    # the scan sees every read form, so an empty result is not blindness
    probe = (
        "import os\n"
        "from os import environ, getenv\n"
        "a = os.environ.get('A')\n"
        "b = os.environ['B']\n"
        "c = os.getenv('C', '1')\n"
        "d = 'D' in os.environ\n"
        "e = environ.get(name)\n"
        "f = getenv('F')\n"
        "os.environ.setdefault('W1', '1')\n"
        "os.environ['W2'] = '1'\n"
    )
    assert env_reads(probe) == {"A", "B", "C", "D", "<computed: name>", "F"}

    root = Path(kfts_insar_spark.__file__).parent
    found = {}
    for path in sorted(root.rglob("*.py")):
        for name in env_reads(path.read_text()):
            found.setdefault(name, []).append(str(path.relative_to(root)))
    extra = {k: v for k, v in found.items() if k not in DEPLOYMENT_ENV}
    assert not extra, f"engine reads non-deployment environment variables: {extra}"
