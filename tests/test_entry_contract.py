"""The driver contract in ``__spark_entry__.py`` pairs every gate
query with one DuckDB oracle.  Checked without a SparkSession:
building and comparing the frames is ``tools/verify_entry.py``'s job."""

import ast
import glob
import importlib
import importlib.util
import os

import __spark_entry__ as entry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_gate_query_has_an_oracle():
    """One oracle per gate query, and every module-level ``q_*``
    function is registered: a deletion that drops a ``queries()``
    entry but leaves its query function behind fails here."""
    queries = entry.queries()
    assert set(queries) == set(entry.oracle_sql())
    defined = {fn for name, fn in vars(entry).items()
               if name.startswith('q_') and callable(fn)}
    assert defined == set(queries.values())


def _library_imports(path):
    """(line, module, name) for every ``from yargy_spark... import
    name`` in the file, module-level and function-local alike.  A
    relative import resolves against the file's own package."""
    package = os.path.dirname(os.path.relpath(path, ROOT)).replace(
        os.sep, '.')
    with open(path, encoding='utf-8') as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        module = (importlib.util.resolve_name(
            '.' * node.level + (node.module or ''), package)
            if node.level else node.module)
        if module.split('.')[0] == 'yargy_spark':
            for alias in node.names:
                yield node.lineno, module, alias.name


def test_lazy_library_imports_resolve():
    """Gate queries, spark-submit jobs and the library itself import
    library names inside functions, so a module deleted or a name
    renamed under them would otherwise surface only when the query,
    job or operator runs."""
    paths = ([os.path.join(ROOT, '__spark_entry__.py')]
             + sorted(glob.glob(os.path.join(ROOT, 'jobs', '*.py')))
             + sorted(glob.glob(os.path.join(ROOT, 'yargy_spark', '**',
                                             '*.py'), recursive=True)))
    checked, dangling = 0, []
    for path in paths:
        where = os.path.relpath(path, ROOT)
        for line, module, name in _library_imports(path):
            checked += 1
            try:
                mod = importlib.import_module(module)
            except ImportError as e:
                dangling.append('%s:%d %s (%s)' % (where, line, module, e))
                continue
            if not hasattr(mod, name):
                try:
                    importlib.import_module(module + '.' + name)
                except ImportError:
                    dangling.append('%s:%d %s.%s'
                                    % (where, line, module, name))
    assert checked > 0
    assert dangling == []
