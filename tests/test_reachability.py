"""Static guard: every top-level name in crawlspark/ has a caller.

Code stays only if the wave driver, the CLI or a catalog entry needs
it. The roots are ``WaveDriver``, ``crawlspark/__main__.py``, the
``QUERIES`` registry and the entry scripts (``bench.py``,
``bench_extra.py``, ``oracle_sweep.py``, ``__spark_entry__.py``,
``perfbench/*.py``), plus every module-level statement of the package
that is not itself a definition (it runs at import). A top-level def,
class or assignment is reached when a reached body names it: a bare
name resolved in its own module or through a ``crawlspark`` import, an
attribute of an imported ``crawlspark`` module, or a string constant
in an entry script (perfbench patches functions by name). A name no
root reaches fails this test unless ``REFERENCE_ONLY`` lists it with
its reason; names that only those entries use are allowed with them.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "crawlspark"
ENTRY_SCRIPTS = (["bench.py", "bench_extra.py", "oracle_sweep.py",
                  "__spark_entry__.py"]
                 + sorted(p.relative_to(ROOT).as_posix()
                          for p in (ROOT / "perfbench").glob("*.py")))
ROOT_DEFS = [("driver", "WaveDriver"), ("queries", "QUERIES")]

# qualified name -> why it stays although only tests reach it
REFERENCE_ONLY = {
    "__init__.__version__": "package version string",
    "politeness.parse_robots_txt": "parses robots.txt text from outside",
    "dedup.simhash64_py": "reference twin of simhash64_expr",
    "dedup.simhash_near_dups": "reference for simhash_dup_classes",
    "textops.ann_topk_lsh": "un-indexed twin of ann_topk_lsh_indexed",
    "frontier.crawl_sequence": "crawl-order audit of the reference's queue",
    "dedup.content_hash": "the reference's D4 sha256 hash shape",
    "dedup.exact_dedup": "the reference's D4 exact dedup over content_hash",
    "extract.extract_detail_fields":
        "oracle the extraction parity tests compare the x struct against",
    "extract.extract_jsonld_blobs":
        "oracle the extraction parity tests compare the audit blobs against",
    "textops.ngram_jaccard_for_pairs": "fallback for ngram_jaccard's broadcast",
    "multimodal.gen_media_pandas": "test fixture: media corpus",
    "rawproj.VIECLAM24H_API_MAPPING": "test fixture: raw API field map",
}


def _crawlspark_module(dotted, level):
    """Package module named by an import, or None for other packages."""
    if level:
        return dotted or ""
    if dotted == "crawlspark":
        return ""
    if dotted and dotted.startswith("crawlspark."):
        return dotted.split(".", 1)[1]
    return None


class _Module:
    def __init__(self, path):
        self.name = path.stem if path.parent == PKG else None
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs = {}        # top-level name -> its defining nodes
        self.statements = []  # module-level statements that are not defs
        for node in self.tree.body:
            names = _defined_names(node)
            if names:
                for n in names:
                    self.defs.setdefault(n, []).append(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                self.statements.append(node)
        self.aliases = {}     # local name -> package module
        self.imported = {}    # local name -> (package module, name)
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    m = _crawlspark_module(a.name, 0)
                    if m and a.asname:
                        self.aliases[a.asname] = m
            elif isinstance(node, ast.ImportFrom):
                m = _crawlspark_module(node.module, node.level)
                if m is None:
                    continue
                for a in node.names:
                    local = a.asname or a.name
                    if m == "":
                        self.aliases[local] = a.name
                    else:
                        self.imported[local] = (m, a.name)

    def refs(self, node, with_strings):
        """Package (module, name) pairs that ``node`` names."""
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                if n.id in self.imported:
                    out.add(self.imported[n.id])
                elif self.name is not None:
                    out.add((self.name, n.id))
            elif isinstance(n, ast.Attribute):
                chain = _dotted(n)
                if chain and chain[0] in self.aliases and len(chain) > 1:
                    out.add((self.aliases[chain[0]], chain[1]))
                elif chain and chain[:1] == ["crawlspark"] and len(chain) > 2:
                    out.add((chain[1], chain[2]))
            elif isinstance(n, ast.ImportFrom):
                m = _crawlspark_module(n.module, n.level)
                if m:
                    out.update((m, a.name) for a in n.names)
            elif (with_strings and isinstance(n, ast.Constant)
                    and isinstance(n.value, str)):
                out.add(("*", n.value))
        return out


def _defined_names(node):
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign) and all(
            isinstance(t, ast.Name) for t in node.targets):
        return [t.id for t in node.targets]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _dotted(node):
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        parts.append(node.id)
        return parts[::-1]
    return None


def _closure(pkg, start):
    """Every package definition reached from ``start`` (module, name);
    module ``*`` stands for a string that may name any module's def."""
    by_name = {}
    for m in pkg.values():
        for n in m.defs:
            by_name.setdefault(n, []).append((m.name, n))
    seen, todo = set(), list(start)
    while todo:
        mod, name = todo.pop()
        targets = by_name.get(name, []) if mod == "*" else [(mod, name)]
        for key in targets:
            if key in seen or key not in by_name.get(key[1], ()):
                continue
            seen.add(key)
            m = pkg[key[0]]
            for node in m.defs[key[1]]:
                todo.extend(m.refs(node, with_strings=False))
    return seen


def _roots(pkg):
    start = list(ROOT_DEFS)
    main = pkg["__main__"]
    start += [(main.name, n) for n in main.defs]
    for m in pkg.values():
        for node in m.statements:
            start += m.refs(node, with_strings=False)
    for rel in ENTRY_SCRIPTS:
        script = _Module(ROOT / rel)
        start += script.refs(script.tree, with_strings=True)
    return start


def _scan():
    """(every top-level name, names the roots reach) as ``module.name``."""
    pkg = {m.name: m for m in map(_Module, sorted(PKG.glob("*.py")))}
    defs = {f"{m.name}.{n}" for m in pkg.values() for n in m.defs}
    reached = {f"{m}.{n}" for m, n in _closure(pkg, _roots(pkg))}
    kept = {f"{m}.{n}" for m, n in _closure(
        pkg, [tuple(q.split(".", 1)) for q in REFERENCE_ONLY])}
    return defs, reached, kept


def test_every_definition_is_reached():
    defs, reached, kept = _scan()
    assert {"driver.WaveDriver", "queries.QUERIES"} <= reached
    assert "driver.run_wave" not in defs  # methods are not top-level
    assert sorted(defs - reached - kept) == []


def test_reference_only_entries_exist_and_have_no_caller():
    defs, reached, _ = _scan()
    assert sorted(set(REFERENCE_ONLY) - defs) == []
    assert sorted(set(REFERENCE_ONLY) & reached) == []
