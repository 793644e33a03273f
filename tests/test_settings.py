"""Static guard: every setting on the crawl path has a caller.

A defaulted parameter is a setting. On the functions a wave and the
``crawl`` command run, and on the media codec path the
``media_features`` entry runs (``SCOPE``), each one must be passed, by
keyword or by position, at some call site outside ``tests/``: in the
package or an entry script (``bench.py``, ``bench_extra.py``,
``oracle_sweep.py``, ``__spark_entry__.py``, ``perfbench/*.py``). A
setting that only its default ever reaches is a constant, and one that
only tests set keeps a branch alive for them alone. Call sites are matched by function name (a
class call counts for its ``__init__``; a method called on an object
skips ``self``). A setting without such a caller fails this test unless
``ALLOWED`` lists it with its reason.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "crawlspark"
SOURCES = (sorted(PKG.glob("*.py"))
           + [ROOT / p for p in ("bench.py", "bench_extra.py",
                                 "oracle_sweep.py", "__spark_entry__.py")]
           + sorted((ROOT / "perfbench").glob("*.py")))

# module -> crawl-path and media-path functions; a class stands for all
# its methods
SCOPE = {
    "driver": ["WaveDriver"],
    "tables": ["SnapshotStore"],
    "politeness": ["schedule"],
    "dedup": ["salt_of", "seen_live", "classify", "expires_at_expr",
              "seen_delta", "bloom_params", "build_blooms",
              "bloom_might_contain", "classify_with_bloom"],
    "extract": ["extract_pages"],
    "frontier": ["priority_expr"],
    "jpegc": ["encode_jpeg", "decode_jpeg"],
    "multimodal": ["decode_and_featurize", "extract_features"],
}

# module.function.parameter -> why it stays although no caller sets it
ALLOWED = {
    "politeness.schedule.two_phase":
        "mega-host scheduling path, chosen once a benchmark workload "
        "has a mega-host backlog",
    "dedup.classify.broadcast":
        "shuffle-join escape hatch, to fold into a bounded-broadcast helper",
    "tables.SnapshotStore.read.snapshot_id": "snapshot time travel",
    "tables.SnapshotStore.read_split.snapshot_id": "snapshot time travel",
}


def _defaulted(fn):
    """(name, positional index or None) of each defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [(p.arg, i) for i, p in
           enumerate(pos) if i >= len(pos) - len(a.defaults)]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def _scoped():
    """qualified name -> (call name, skips self, defaulted parameters)."""
    out = {}
    for mod, names in SCOPE.items():
        tree = ast.parse((PKG / f"{mod}.py").read_text())
        top = {n.name: n for n in tree.body
               if isinstance(n, (ast.FunctionDef, ast.ClassDef))}
        for name in names:
            node = top[name]
            if isinstance(node, ast.FunctionDef):
                out[f"{mod}.{name}"] = (name, False, _defaulted(node))
                continue
            for m in node.body:
                if isinstance(m, ast.FunctionDef):
                    call = name if m.name == "__init__" else m.name
                    out[f"{mod}.{name}.{m.name}"] = (call, True,
                                                     _defaulted(m))
    return out


def _calls():
    """call name -> (positional count, keyword names) per call site; a
    call that unpacks ``*args`` or ``**kwargs`` sets nothing knowable."""
    out = {}
    for path in SOURCES:
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            npos = sum(not isinstance(a, ast.Starred) for a in n.args)
            kws = {k.arg for k in n.keywords if k.arg is not None}
            out.setdefault(name, []).append((npos, kws))
    return out


def _uncalled():
    """Qualified names of the in-scope settings no call site sets."""
    calls = _calls()
    out = set()
    for qual, (call, method, params) in _scoped().items():
        sites = calls.get(call, [])
        for arg, idx in params:
            pos = None if idx is None else idx - method
            if not any(arg in kws or (pos is not None and npos > pos)
                       for npos, kws in sites):
                out.add(f"{qual}.{arg}")
    return out


def _settings():
    return {f"{q}.{arg}" for q, (_, _, params) in _scoped().items()
            for arg, _ in params}


def test_every_crawl_path_setting_has_a_caller():
    assert sorted(_uncalled() - set(ALLOWED)) == []


def test_allowed_entries_are_settings_without_a_caller():
    assert sorted(set(ALLOWED) - _settings()) == []
    assert sorted(set(ALLOWED) - _uncalled()) == []
