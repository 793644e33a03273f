"""Static guard: only session.py reads the process environment.

Deployment settings (master, UI, driver memory) are read in
session.py. Anywhere else an environment variable would select a
second code path that the tests never run, so any ``os.environ`` or
``os.getenv`` read outside session.py fails this test.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "crawlspark"


def _env_reads(tree):
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv")
                and isinstance(node.value, ast.Name) and node.value.id == "os"):
            yield node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ("environ", "getenv") for a in node.names):
                yield node.lineno


def test_only_session_reads_environment():
    reads = {p.name: list(_env_reads(ast.parse(p.read_text(), str(p))))
             for p in sorted(PKG.glob("*.py"))}
    assert reads.pop("session.py")  # the guard sees real reads
    assert {name: lines for name, lines in reads.items() if lines} == {}
