"""The stat-guarded zip directory cache (keras_ocr_spark/zipguard.py).

Before Python 3.12 every ``importlib.invalidate_caches()`` makes each
zipimporter re-read its whole archive directory; pyspark calls it once
per worker task. The guard re-reads an archive only when its stat stamp
changed: an unchanged archive costs no read, a rewritten one is re-read
and its new modules import.
"""

import ast
import importlib
import os
import sys
import zipfile
import zipimport
from pathlib import Path

from pyspark.sql import functions as F

from keras_ocr_spark import zipguard


def _write_zip(path, modules: dict) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread_and_rewritten_one_is(tmp_path, monkeypatch):
    archive = tmp_path / "zg_lib.zip"
    _write_zip(archive, {"zg_mod_a": "X = 1\n"})
    # Restore the unguarded method when the test ends.
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    zipguard.install()
    assert zipguard.installed() or sys.version_info >= (3, 12)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zg_mod_a").X == 1
        importlib.invalidate_caches()  # stamps every archive on the path
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []
        _write_zip(archive, {"zg_mod_a": "X = 1\n", "zg_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zg_mod_b").Y == 2
        assert reads == [str(archive)]
    finally:
        for name in ("zg_mod_a", "zg_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_install_is_idempotent(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    zipguard.install()
    guarded = zipimport.zipimporter.invalidate_caches
    zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_stage1_worker_stops_rereading_zip_directories(spark):
    from keras_ocr_spark.plans.pipeline import extract

    def probe_invalidate(_):
        """Count the archive directory reads one ``invalidate_caches()``
        costs in this worker (imports nothing from the package)."""
        import importlib
        import sys
        import zipimport

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_zip = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        guarded = getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)
        return guarded, len(reads), n_zip

    # One stage-1 pass with more tasks than the idle worker pool holds,
    # so the workers the probe reuses have run a stage-1 task.
    turns = spark.range(0, 64, 1, 16).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("<p>a paragraph of plain content text</p>").alias("text"),
    )
    extract(turns).agg(F.sum(F.length("clean_text"))).collect()
    probe = F.udf(probe_invalidate, "struct<guarded:boolean, reads:int, zip_importers:int>")
    rows = spark.range(0, 16, 1, 16).select(probe("id").alias("p")).select("p.*").collect()
    guarded = [r for r in rows if r.guarded]
    assert guarded, rows
    assert all(r.reads == 0 and r.zip_importers > 0 for r in guarded), rows


UDF_DECORATORS = {"pandas_udf", "arrow_udf"}
UDF_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow"}
INSTALL = ast.dump(ast.parse("zipguard.install()").body[0])


def _udf_functions():
    """``(module path, qualified name, node)`` of every function in the
    package decorated with ``F.pandas_udf`` or ``F.arrow_udf``, or passed
    to ``mapInPandas``, ``mapInArrow``, ``applyInPandas`` or
    ``applyInArrow``. A function passed as anything but the name of a
    function defined in an enclosing scope comes back with node ``None``."""
    pkg = Path(__file__).resolve().parent.parent / "keras_ocr_spark"

    def is_udf_decorator(dec) -> bool:
        target = dec.func if isinstance(dec, ast.Call) else dec
        return (
            isinstance(target, ast.Attribute)
            and target.attr in UDF_DECORATORS
            and isinstance(target.value, ast.Name)
            and target.value.id == "F"
        )

    def passed_function(node, scope):
        """``(qualified name, node)`` of the function a boundary call
        passes, or None when ``node`` is no boundary call."""
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            return None
        if node.func.attr not in UDF_METHODS:
            return None
        arg = node.args[0] if node.args else None
        if isinstance(arg, ast.Name) and arg.id in scope:
            return scope[arg.id]
        return f"<{node.func.attr} of {ast.unparse(arg) if arg else 'nothing'}>", None

    def walk(node, path, prefix, scope):
        functions = (ast.FunctionDef, ast.AsyncFunctionDef)
        defined = [c for c in ast.iter_child_nodes(node) if isinstance(c, functions)]
        scope = {**scope, **{c.name: (f"{prefix}{c.name}", c) for c in defined}}
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (*functions, ast.ClassDef)):
                name = f"{prefix}{child.name}"
                if not isinstance(child, ast.ClassDef) and any(map(is_udf_decorator, child.decorator_list)):
                    yield path, name, child
                yield from walk(child, path, f"{name}.", scope)
            else:
                passed = passed_function(child, scope)
                if passed is not None:
                    yield path, *passed
                yield from walk(child, path, prefix, scope)

    for path in sorted(pkg.rglob("*.py")):
        yield from walk(ast.parse(path.read_text()), path.relative_to(pkg).as_posix(), "", {})


def _starts_with_install(fn) -> bool:
    if fn is None:
        return False
    body = fn.body[1:] if ast.get_docstring(fn) is not None else fn.body  # a docstring may come first
    return bool(body) and ast.dump(body[0]) == INSTALL


def test_every_package_udf_installs_zipguard_first():
    """A package UDF, or a function handed to a ``mapIn*``/``applyIn*``
    boundary, ships to the worker by value, so only a reference in its
    body makes the worker import and install the guard; without it every
    task re-reads the zip directories on the worker's path."""
    udfs = {f"{path}:{name}": fn for path, name, fn in _udf_functions()}
    assert {
        "operators/dedup.py:_doc_udf._doc",
        "operators/dedup.py:_rarity_coded_docs._codes",
        "operators/dedup.py:simhash_fingerprints._sh",
        "operators/dedup.py:substring_dup_stats._grams",
        "operators/dedup.py:substring_dup_stats._span_stats",
        "operators/detect.py:propose_spans_udf._extract",
        "operators/multimodal.py:pdf_extract_text.op",
        "operators/textstats.py:compression_ratios._cr",
        "operators/textstats.py:nfc_normalize_texts._nfc",
    } <= set(udfs), sorted(udfs)
    unguarded = sorted(name for name, fn in udfs.items() if not _starts_with_install(fn))
    assert unguarded == []
