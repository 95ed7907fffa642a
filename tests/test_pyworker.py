"""The Python-worker layer: the engine's worker daemon (``pyworker``),
the workers' import path, and the rule that no constant relation in the
package is built through a Python RDD."""

from __future__ import annotations

import ast
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pyarrow.parquet as pq

from opay_datalake_script_spark import pyworker

from .conftest import SMOKE_SF_DIR

_PKG_DIR = os.path.dirname(os.path.abspath(pyworker.__file__))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_zip_archive_is_reread_only_when_it_changes(tmp_path, monkeypatch):
    """``importlib.invalidate_caches()`` re-parses a zipimporter's archive
    only when its (mtime, size) moved since that importer last read it,
    and a module added to a rewritten archive becomes importable."""
    archive = tmp_path / "shipped.zip"
    _write_zip(archive, {"pyworker_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    assert importlib.import_module("pyworker_probe_a").X == 1
    reads = []
    original = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        importlib.invalidate_caches()  # first call: no read stamp yet
        first = len(reads)
        assert first == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == first, "an unchanged archive was re-read"

        _write_zip(archive, {"pyworker_probe_a": "X = 1\n", "pyworker_probe_b": "Y = 2\n"})
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        importlib.invalidate_caches()
        assert len(reads) == first + 1, "a rewritten archive was not re-read"
        assert importlib.import_module("pyworker_probe_b").Y == 2
    finally:
        for name in ("pyworker_probe_a", "pyworker_probe_b"):
            sys.modules.pop(name, None)


def test_python_workers_run_the_engine_daemon(spark):
    """Every Python task of the session runs in a worker forked from
    ``pyworker``: its zipimporters carry the wrapped invalidate_caches,
    and a repeated ``importlib.invalidate_caches()`` re-reads none of
    the worker's zip archives (pyspark.zip, py4j, the spark-core jar)."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        importlib.invalidate_caches()  # stamps importers made by this task
        reads = []
        original = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or original(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        n_zip = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        wrapper = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        for b in batches:
            n = b.num_rows
            yield pa.RecordBatch.from_pydict(
                {"wrapper": [wrapper] * n, "n_zip": [n_zip] * n, "reads": [len(reads)] * n}
            )

    rows = spark.range(8, numPartitions=2).mapInArrow(
        probe, "wrapper string, n_zip long, reads long"
    ).collect()
    for r in rows:
        assert r.wrapper.endswith(os.path.join("opay_datalake_script_spark", "pyworker.py"))
        assert r.n_zip > 0
        assert r.reads == 0


def test_python_udfs_run_from_any_working_directory(tmp_path):
    """A session started outside the checkout, with no PYTHONPATH, still
    runs Python UDFs: the workers import the daemon and the pickled
    package functions from the path the session gives them."""
    script = "\n".join(
        [
            "import sys",
            f"sys.path.insert(0, {os.path.dirname(_PKG_DIR)!r})",
            "from opay_datalake_script_spark import get_spark",
            "from opay_datalake_script_spark.registry import load_all_queries",
            "spark = get_spark(cpus=1, extra_conf={'spark.driver.memory': '1g'})",
            f"df = load_all_queries()['j_grouped_map'](spark, {SMOKE_SF_DIR!r})",
            "print('rows', len(df.toPandas()))",
            "spark.stop()",
        ]
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    n_customers = pq.read_metadata(f"{SMOKE_SF_DIR}/customer.parquet").num_rows
    assert f"rows {n_customers}" in out.stdout.splitlines()


def test_no_constant_relation_goes_through_a_python_rdd():
    """``spark.createDataFrame(<python list>)`` runs a Python RDD, so every
    job over it starts Python worker tasks; the package builds its
    constant relations with ``sources.io.local_rows`` instead. Fails on
    any ``createDataFrame(`` call in the package whose data argument is a
    list, tuple or comprehension literal."""
    literal = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp, ast.Set)
    found = []
    for root, _dirs, files in os.walk(_PKG_DIR):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    continue
                data = node.args[:1] + [k.value for k in node.keywords if k.arg == "data"]
                if any(isinstance(d, literal) for d in data):
                    found.append(f"{os.path.relpath(path, _PKG_DIR)}:{node.lineno}")
    assert not found, f"createDataFrame over a Python literal: {found}"


def test_local_rows_matches_create_dataframe(spark):
    """`local_rows` gives the schema and rows `createDataFrame` would,
    and an empty list gives an empty relation of that schema."""
    from opay_datalake_script_spark.sources.io import local_rows

    schema = "rnd int, pair string, w_count long, price double"
    rows = [(1, "a b", 7, 1.5), (2, "ab c", 3_000_000_000, None)]
    got = local_rows(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert [tuple(r) for r in got.collect()] == rows
    empty = local_rows(spark, [], schema)
    assert empty.schema.simpleString() == got.schema.simpleString()
    assert empty.count() == 0
