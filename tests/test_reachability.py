"""Every package module is reached from code outside ``tests/``.

The entry points are the query entry module (``__spark_entry__.py``),
``bench.py``, ``tools/`` and ``perfbench/``.  A module counts as reached
when an entry point imports it, directly or through package modules that
are themselves reached.  Imports are read with ``ast`` from every
``import``/``from`` statement, at module level or inside functions, with
relative imports resolved.  A module that only tests import is code
nothing runs; delete it with its tests instead of keeping it alive.

The same holds for ``CrawlEngine`` options: each one is passed by keyword
by at least one caller, in code or in a test, or it is a path nothing
selects.  Package-wide, every defaulted parameter is passed by some call,
and every public function (plus the public methods of ``CrawlEngine``,
``SnapshotTable`` and ``SnapshotBloom``) is referenced outside
``tests/``; ``synth.py`` is exempt from the second rule as the corpus
generator tests and ``perfbench/`` share.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "board_game_scraper_spark"
ENTRY_POINTS = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
]


def module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def imported_modules(path: Path, known: set[str]) -> set[str]:
    """The modules of ``known`` that ``path`` imports anywhere."""
    name = module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = package.split(".")
                parent = parent[:len(parent) - (node.level - 1)]
                base = ".".join(parent + ([base] if base else []))
            # ``from pkg import mod`` imports the submodule ``pkg.mod``
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            # importing a.b.c also imports the packages a and a.b
            found.update(m for m in (".".join(parts[:i])
                                     for i in range(1, len(parts) + 1))
                         if m in known)
    return found


def reached_from(files: dict[str, Path], todo: set[str]) -> set[str]:
    """The package modules ``todo`` names, plus every one they import,
    directly or through each other."""
    reached = set()
    while todo:
        mod = todo.pop()
        reached.add(mod)
        todo |= imported_modules(files[mod], set(files)) - reached
    return reached


def test_every_package_module_is_reached_outside_tests():
    files = {module_name(p): p for p in PKG.rglob("*.py")}
    reached = reached_from(files, set().union(
        *(imported_modules(p, set(files)) for p in ENTRY_POINTS)))
    unreached = sorted(m for m, p in files.items()
                       if p.name != "__init__.py" and m not in reached)
    assert unreached == []


def test_queries_do_not_import_the_corpus_generator():
    """The query surface builds its inputs with Spark columns: no module
    reached from ``queries`` imports ``synth``, the corpus generator
    (the crawl oracle ``plans/simulator.py`` is not reached from it)."""
    files = {module_name(p): p for p in PKG.rglob("*.py")}
    synth = f"{PKG.name}.synth"
    importers = sorted(
        m for m in reached_from(files, {f"{PKG.name}.queries"})
        if synth in imported_modules(files[m], set(files)))
    assert importers == []


def test_crawl_engine_options_have_callers():
    crawl = ast.parse((PKG / "plans" / "crawl.py").read_text())
    init = next(
        f for c in crawl.body
        if isinstance(c, ast.ClassDef) and c.name == "CrawlEngine"
        for f in c.body
        if isinstance(f, ast.FunctionDef) and f.name == "__init__")
    params = [a.arg for a in init.args.args]
    options = params[params.index("pages") + 1:]
    sources = [*PKG.rglob("*.py"), *ENTRY_POINTS,
               *sorted((ROOT / "tests").glob("*.py"))]
    passed = set()
    for path in sources:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "attr", getattr(node.func, "id", None))
            if name in ("CrawlEngine", "make_engine"):
                passed.update(k.arg for k in node.keywords if k.arg)
    assert [o for o in options if o not in passed] == []


def _defs():
    """(path, class name or None, def) for every module-level function and
    class method of the package."""
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                yield path, None, node
            elif isinstance(node, ast.ClassDef):
                for f in node.body:
                    if isinstance(f, ast.FunctionDef):
                        yield path, node.name, f


def _passes(call: ast.Call, pos: int | None, arg: str) -> bool:
    """Whether ``call`` passes parameter ``arg`` (positional index ``pos``,
    None when keyword-only); ``*args``/``**kwargs`` pass everything."""
    return (any(isinstance(a, ast.Starred) for a in call.args)
            or any(k.arg in (None, arg) for k in call.keywords)
            or (pos is not None and pos < len(call.args)))


def test_package_parameters_have_callers():
    calls = {}
    for path in [*PKG.rglob("*.py"), *ENTRY_POINTS,
                 *sorted((ROOT / "tests").glob("*.py"))]:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "attr",
                               getattr(node.func, "id", None))
                calls.setdefault(name, []).append(node)
    unpassed = []
    for path, cls, f in _defs():
        a = f.args
        positional = a.posonlyargs + a.args
        # a bound method's call sites do not pass self/cls
        bound = int(cls is not None and not any(
            getattr(d, "id", None) == "staticmethod"
            for d in f.decorator_list))
        first = len(positional) - len(a.defaults)
        defaulted = [(i - bound, p.arg) for i, p in enumerate(positional)
                     if i >= first]
        defaulted += [(None, p.arg) for p, d in zip(a.kwonlyargs,
                                                    a.kw_defaults)
                      if d is not None]
        name = cls if f.name == "__init__" else f.name
        unpassed += [
            f"{path.relative_to(ROOT)}:{f.lineno} {f.name}({arg})"
            for pos, arg in defaulted
            if not any(_passes(c, pos, arg) for c in calls.get(name, []))]
    assert unpassed == []


def test_public_functions_have_non_test_callers():
    referenced = set()
    for path in [*PKG.rglob("*.py"), *ENTRY_POINTS]:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.alias):
                referenced.add(node.name)
    unreferenced = [
        f"{path.relative_to(ROOT)} {f.name}" for path, cls, f in _defs()
        if path.name != "synth.py" and not f.name.startswith("_")
        and cls in (None, "CrawlEngine", "SnapshotTable", "SnapshotBloom")
        and f.name not in referenced]
    assert unreferenced == []
