"""Static guard: every setting in crawlspark/ has a caller.

A defaulted parameter of a top-level function, or of a method of a
top-level class, in ``crawlspark/*.py`` is a setting. Each one must be
set, by keyword or by position, at some call site outside ``tests/``:
in the package or an entry script (``ENTRY_SCRIPTS`` of
``test_reachability``). A call sets a parameter when it passes anything
but the default literal; a non-literal argument counts as setting it.
A setting that only its default ever reaches is a constant, and one
that only tests set keeps a branch alive for them alone. The reference
twins that ``test_reachability.REFERENCE_ONLY`` keeps for the tests are
left out. Call sites are matched by function
name (a class call counts for its ``__init__``; a method called on an
object skips ``self``). A setting without such a caller fails this test
unless ``ALLOWED`` lists it with its reason; the failure names each call
site that passes it only at its default as ``file:line``.
"""

import ast
from pathlib import Path

from tests.test_reachability import ENTRY_SCRIPTS, REFERENCE_ONLY

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "crawlspark"
SOURCES = sorted(PKG.glob("*.py")) + [ROOT / p for p in ENTRY_SCRIPTS]

# module.function.parameter -> why it stays although no caller sets it
ALLOWED = {
    "dedup.classify.broadcast":
        "shuffle-join escape hatch, to fold into a bounded-broadcast helper",
    "tables.SnapshotStore.read.snapshot_id": "snapshot time travel",
    "tables.SnapshotStore.read_split.snapshot_id": "snapshot time travel",
    "textops.pack_sequences.num_partitions":
        "tests vary it to pin partition invariance",
    "textops.grouped_ntile.num_partitions":
        "tests vary it to pin partition invariance",
    "textops.shard_plan.num_partitions":
        "tests vary it to pin partition invariance",
    "__main__.main.argv": "tests drive the CLI in-process",
}


def _defaulted(fn):
    """(name, positional index or None, default node) of each defaulted
    parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i, a.defaults[i - first])
           for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def _literal(node):
    """(type, value) of a literal node, or None when it is not one."""
    try:
        v = ast.literal_eval(node)
    except ValueError:
        return None
    return type(v), v


def _scoped():
    """qualified name -> (call name, skips self, defaulted parameters)
    for every top-level function and method of a top-level class."""
    out = {}
    for path in sorted(PKG.glob("*.py")):
        mod = path.stem
        for node in ast.parse(path.read_text()).body:
            if f"{mod}.{getattr(node, 'name', '')}" in REFERENCE_ONLY:
                continue
            if isinstance(node, ast.FunctionDef):
                out[f"{mod}.{node.name}"] = (node.name, False,
                                             _defaulted(node))
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, ast.FunctionDef):
                        call = node.name if m.name == "__init__" else m.name
                        out[f"{mod}.{node.name}.{m.name}"] = (
                            call, True, _defaulted(m))
    return out


def _calls():
    """call name -> (site, positional args, keyword args) per call site;
    a call that unpacks ``*args`` or ``**kwargs`` sets nothing knowable."""
    out = {}
    for path in SOURCES:
        rel = path.relative_to(ROOT)
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            args = [a for a in n.args if not isinstance(a, ast.Starred)]
            kws = {k.arg: k.value for k in n.keywords if k.arg is not None}
            out.setdefault(name, []).append((f"{rel}:{n.lineno}", args, kws))
    return out


def _uncalled():
    """In-scope setting no call site sets -> the call sites that pass it
    at its default literal."""
    calls = _calls()
    out = {}
    for qual, (call, method, params) in _scoped().items():
        for arg, idx, default in params:
            pos = None if idx is None else idx - method
            at_default = []
            for site, args, kws in calls.get(call, []):
                node = (kws[arg] if arg in kws else args[pos]
                        if pos is not None and len(args) > pos else None)
                if node is None:
                    continue
                lit = _literal(node)
                if lit is None or lit != _literal(default):
                    break
                at_default.append(site)
            else:
                out[f"{qual}.{arg}"] = at_default
    return out


def _settings():
    return {f"{q}.{arg}" for q, (_, _, params) in _scoped().items()
            for arg, _, _ in params}


def test_every_crawl_path_setting_has_a_caller():
    bad = {q: sites for q, sites in _uncalled().items() if q not in ALLOWED}
    assert not bad, "settings no call site sets:\n" + "\n".join(
        f"  {q}: " + (", ".join(sorted(sites)) + " pass only the default"
                      if sites else "no call site passes it")
        for q, sites in sorted(bad.items()))


def test_allowed_entries_are_settings_without_a_caller():
    assert sorted(set(ALLOWED) - _settings()) == []
    assert sorted(set(ALLOWED) - set(_uncalled())) == []
