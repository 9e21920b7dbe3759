"""The repository's outer surfaces stay in step with the package.

No Spark session: the driver contract in ``__spark_entry__.py`` is
checked by building its query and oracle tables, and the package's scope
by walking import statements with ``ast``.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PKG = "name_matching_spark"

# The modules a caller of the ER path starts from; every other module of
# the package must be reachable from them by import statements.
ENTRY_MODULES = [
    "pipeline",
    "streaming.stream_resolve",
    "model.train",
    "model.predict",
    "datagen",
    "session",
]


def _list_literal(path: str, name: str) -> list:
    """The literal value of a module-level ``name = [...]`` in ``path``,
    read without importing the script (the bench scripts set process-wide
    environment defaults at import time)."""
    tree = ast.parse(open(path).read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == name for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError(f"{name} not found in {path}")


def test_entry_contract_queries_and_oracles():
    import __spark_entry__ as E

    queries = E.queries()
    oracles = E.oracle_sql()
    # rows-only queries are the ones the oracle_sql docstring names
    # without an oracle entry
    doc = E.oracle_sql.__doc__
    rows_only = {q for q in queries if q in doc and q not in oracles}
    assert set(queries) == set(oracles) | rows_only
    assert rows_only == {"m6b_louvain"}
    assert all(callable(f) for f in queries.values())

    for script, name in [("bench.py", "OPERATOR_QUERIES"),
                         ("bench_extra.py", "BENCH_QUERIES")]:
        listed = _list_literal(os.path.join(REPO, script), name)
        missing = [q for q in listed if q not in queries]
        assert not missing, f"{script} {name} names unknown queries: {missing}"


def _path(mod: str) -> str | None:
    base = os.path.join(REPO, *mod.split("."))
    if os.path.isdir(base):
        return os.path.join(base, "__init__.py")
    return base + ".py" if os.path.exists(base + ".py") else None


def _imported(mod: str):
    """Every dotted name an import statement of ``mod`` may bind to a
    module: ``import a.b``, ``from a.b import c`` (a.b, and a.b.c when c
    is a submodule).  Function-local imports count."""
    tree = ast.parse(open(_path(mod)).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"relative import in {mod}"
            yield node.module
            yield from (f"{node.module}.{a.name}" for a in node.names)


def test_package_modules_reachable_from_entry_modules():
    all_mods = set()
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        rel = os.path.relpath(root, REPO).replace(os.sep, ".")
        for f in files:
            if f.endswith(".py"):
                all_mods.add(rel if f == "__init__.py" else f"{rel}.{f[:-3]}")

    seen = set()
    todo = [f"{PKG}.{m}" for m in ENTRY_MODULES]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        # importing a submodule runs each parent package's __init__
        parts = mod.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]
        todo += [
            name for name in _imported(mod)
            if name.split(".")[0] == PKG and _path(name) is not None
        ]

    unreached = sorted(all_mods - seen)
    assert not unreached, f"modules no entry module imports: {unreached}"


def test_package_runs_on_one_thread():
    """The pipeline runs its stages in order on the caller's thread: no
    package module imports a thread pool or threads."""
    offenders = []
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        rel = os.path.relpath(root, REPO).replace(os.sep, ".")
        for f in files:
            if not f.endswith(".py"):
                continue
            mod = rel if f == "__init__.py" else f"{rel}.{f[:-3]}"
            offenders += [
                (mod, name) for name in _imported(mod)
                if name.split(".")[0] in ("concurrent", "threading")
            ]
    assert not offenders, offenders


def test_session_sets_no_scheduler_mode(monkeypatch):
    """``get_spark`` leaves Spark's job scheduler at its default (FIFO):
    with one submitting thread a scheduler mode has nothing to share."""
    from name_matching_spark import session

    conf = {}

    class Builder:
        def __getattr__(self, _name):
            return lambda *args: self

        def config(self, key, value):
            conf[key] = value
            return self

        def getOrCreate(self):
            return None

    class FakeSession:
        builder = Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    monkeypatch.setattr(session, "_tune_malloc_env", lambda: None)
    session.get_spark(master="local[2]", extra_conf={})
    assert "spark.sql.adaptive.enabled" in conf
    assert not [k for k in conf if k.startswith("spark.scheduler.mode")]
