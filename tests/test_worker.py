"""The per-worker zipimporter prune: the helper drops only zipimporters
(and a pruned path still imports), a reused worker's next task starts with
none, and every function the repo hands to a Python stage is decorated."""

from __future__ import annotations

import ast
import inspect
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from importlib.machinery import FileFinder
from pathlib import Path

from ocr_spark.worker import drop_zip_importers, python_stage

REPO = Path(__file__).resolve().parent.parent
STAGE_METHODS = {"mapInArrow", "mapInPandas", "applyInPandas", "applyInPandasWithState"}


def _zip_importers() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


def test_drop_zip_importers_keeps_file_finders_and_imports(tmp_path, monkeypatch):
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zp_first.py", "X = 1\n")
        z.writestr("zp_later.py", "Y = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.syspath_prepend(str(tmp_path))
    for name in ("zp_first", "zp_later"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    import zp_first

    assert zp_first.X == 1
    assert str(archive) in _zip_importers()
    assert isinstance(sys.path_importer_cache[str(tmp_path)], FileFinder)

    drop_zip_importers()

    assert _zip_importers() == []
    assert isinstance(sys.path_importer_cache[str(tmp_path)], FileFinder)
    import zp_later  # not imported before the prune, from the same zip

    assert zp_later.Y == 2


def test_python_stage_prunes_at_head_and_end_and_keeps_signature(monkeypatch):
    seen = []

    @python_stage
    def gen(batches, extra: int = 0):
        seen.append(("body", len(_zip_importers())))
        yield from batches
        # what an import in the body leaves behind
        sys.path_importer_cache["/no/such2.zip"] = zipimport.zipimporter.__new__(zipimport.zipimporter)

    def key_pdf(key, pdf):
        return pdf

    monkeypatch.setitem(
        sys.path_importer_cache, "/no/such.zip", zipimport.zipimporter.__new__(zipimport.zipimporter)
    )
    it = gen(iter([1, 2]))
    assert "/no/such.zip" in sys.path_importer_cache  # generator: not yet started
    assert list(it) == [1, 2]
    assert seen == [("body", 0)]
    assert "/no/such2.zip" not in sys.path_importer_cache  # pruned again at the end
    wrapped = python_stage(key_pdf)
    assert wrapped(1, "pdf") == "pdf"
    # PySpark picks the grouped-map arity from getfullargspec, which does
    # not follow __wrapped__
    assert inspect.getfullargspec(wrapped).args == ["key", "pdf"]
    assert inspect.getfullargspec(gen).args == ["batches", "extra"]


_REUSED_WORKER = """
import json, os, sys, zipimport
from ocr_spark.session import get_spark
from ocr_spark.worker import python_stage

def probe(batches):
    import pyarrow as pa
    n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "n": [n]})

def importer(batches):
    import colorsys, ocr_spark.kernels.gif  # first imported here, after the head prune
    yield from probe(batches)

spark = get_spark(app="reused-worker", master="local[1]", shuffle_partitions=1)
def run(fn):
    row = spark.range(1, numPartitions=1).mapInArrow(fn, "pid long, n long").collect()[0]
    return [row.pid, row.n]
print(json.dumps([run(probe), run(python_stage(probe)), run(probe),
                  run(python_stage(importer)), run(probe)]))
spark.stop()
"""


def test_reused_worker_starts_its_next_task_with_no_zip_importer():
    env = dict(os.environ, PYTHONPATH=str(REPO), OCR_SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _REUSED_WORKER],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    runs = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len({pid for pid, _ in runs}) == 1  # one reused worker
    before, _, after, _, after_imports = (n for _, n in runs)
    assert before > 0  # pyspark.zip et al. are cached as shipped
    assert after == 0  # the undecorated task after one decorated task
    assert after_imports == 0  # a decorated task that imported new modules


def _local_nodes(scope):
    """The nodes of a scope's body, not entering nested scopes."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        n = todo.pop()
        yield n
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)):
            todo.extend(ast.iter_child_nodes(n))


def _decorated(decorators: list[ast.expr]) -> bool:
    return any(getattr(d, "id", getattr(d, "attr", None)) == "python_stage" for d in decorators)


class _Module:
    def __init__(self, path: Path):
        self.tree = ast.parse(path.read_text())
        self.parent = {c: n for n in ast.walk(self.tree) for c in ast.iter_child_nodes(n)}

    def scopes(self, node):
        while node in self.parent:
            node = self.parent[node]
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Module)):
                yield node

    def functions(self, expr, at) -> list[ast.FunctionDef] | None:
        """The function defs ``expr`` (seen at node ``at``) evaluates to;
        None when that cannot be read from the source."""
        if isinstance(expr, ast.Name):
            for scope in self.scopes(at):
                for n in _local_nodes(scope):
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name == expr.id:
                        return [n]
                    if isinstance(n, ast.Assign) and any(
                        isinstance(t, ast.Name) and t.id == expr.id for t in n.targets
                    ):
                        return self.functions(n.value, n)
            return None
        if isinstance(expr, ast.Call):  # a factory: what it returns
            factory = self.functions(expr.func, at)
            if not factory:
                return None
            out = []
            for r in _local_nodes(factory[0]):
                if isinstance(r, ast.Return):
                    got = self.functions(r.value, r) if r.value is not None else None
                    if got is None:
                        return None
                    out += got
            return out or None
        return None


def _stage_functions():
    """(where, function name, decorated?) for every function handed to a
    Python stage, and the call sites whose function cannot be read."""
    files = sorted((REPO / "ocr_spark").rglob("*.py")) + [REPO / "__spark_entry__.py"]
    found, unresolved = [], []
    for path in files:
        mod = _Module(path)
        for n in ast.walk(mod.tree):
            where = f"{path.relative_to(REPO)}:{getattr(n, 'lineno', 0)}"
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for i, d in enumerate(n.decorator_list):
                    if getattr(getattr(d, "func", d), "id", None) == "pandas_udf":
                        # python_stage must sit below pandas_udf, on the raw body
                        found.append((where, n.name, _decorated(n.decorator_list[i + 1 :])))
            elif isinstance(n, ast.Call):
                name = getattr(n.func, "attr", getattr(n.func, "id", None))
                if name == "pandas_udf" and not isinstance(mod.parent.get(n), ast.FunctionDef):
                    unresolved.append(where)  # only the decorator form is read
                elif name in STAGE_METHODS:
                    fns = mod.functions(n.args[0], n) if n.args else None
                    if fns is None:
                        unresolved.append(where)
                    found += [(where, f.name, _decorated(f.decorator_list)) for f in fns or ()]
    return found, unresolved


def test_every_python_stage_function_is_decorated():
    found, unresolved = _stage_functions()
    assert not unresolved, f"stage functions not readable from the source: {unresolved}"
    assert len(found) >= 40  # pipeline, operators, sources, streaming, contract queries
    missing = sorted({f"{where} ({name})" for where, name, ok in found if not ok})
    assert not missing, "not decorated with @python_stage:\n" + "\n".join(missing)

