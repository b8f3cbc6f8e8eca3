"""Driver-contract smoke: entry() runs and returns rows; every query is
callable; oracle keys are a subset of query keys (the driver pairs them).
The full Spark-vs-DuckDB value comparison lives in
scripts/check_oracles.py (run separately — it is the driver's gate)."""

import importlib.util
import sys
from pathlib import Path

import pytest
from pyspark.sql.streaming import StreamingQueryListener

REPO = Path(__file__).resolve().parent.parent
spec = importlib.util.spec_from_file_location("spark_entry", REPO / "__spark_entry__.py")
entry_mod = importlib.util.module_from_spec(spec)
sys.modules["spark_entry"] = entry_mod
spec.loader.exec_module(entry_mod)

SF_SMOKE = "/root/testdata/sf0.001"


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"conv_id", "turn_idx", "clean_text", "n_spans"}


def test_queries_and_oracles_align(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 62
    assert set(oracles) <= set(qs)
    # Every registered query carries an exact DuckDB oracle, except the
    # genuinely non-SQL-expressible ones (driver runs rows-only there).
    ROWS_ONLY = {"compression_ratio"}  # zlib deflate: DuckDB has no equal
    assert set(qs) - set(oracles) == ROWS_ONLY


#: Spark jobs a query's build may run: parquet schema inference, one job
#: per table read (most queries read one table and run exactly one).
MAX_BUILD_JOBS = 2
#: Builds that run more, with the number measured on sf0.001 at
#: local[4]. Where a build writes a table on its first run and reuses it
#: after, the number is the first run's.
BUILD_JOB_EXCEPTIONS = {
    # docs repartition, the closure's checkpoint round with the
    # minhash -> LSH -> verify pair pipeline inside it, and the AQE
    # stages run when the surv and gated lineage cuts are taken
    # (12 or 13 measured)
    "curate_corpus": 13,
    # connected components take an eager localCheckpoint per star round,
    # with the pair pipeline inside the first one (9 or 10 measured)
    "dedup_resolve": 10,
    "dedup_best_keeper": 10,
    "leakage_safe_split": 10,
    # the shingle vocabulary is collected to code shingles by rarity
    # through a driver dict (ADVICE.md)
    "dedup_containment": 5,
    "dedup_prefix_filter": 5,
    # first run writes the two snapshot versions (1-2 jobs after)
    "snapshot_change_feed": 5,
    "time_travel_read": 4,
}


class _StreamStarts(StreamingQueryListener):
    """Counts streaming queries started in this session. Job groups do
    not see stream jobs, which run in the stream's own group."""

    def __init__(self):
        self.n = 0

    def onQueryStarted(self, event):
        self.n += 1

    def onQueryProgress(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


@pytest.fixture(scope="module")
def stream_starts(spark):
    listener = _StreamStarts()
    spark.streams.addListener(listener)
    yield listener
    spark.streams.removeListener(listener)


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_each_query_is_lazy_plannable(spark, stream_starts, name):
    # Building the plan must not error (execution checked by
    # check_oracles), must start no streaming query and must run at most
    # MAX_BUILD_JOBS Spark jobs, or the number measured for the query.
    sc = spark.sparkContext
    group = f"build.{name}"
    streams_before = stream_starts.n
    try:
        sc.setJobGroup(group, f"{name} build")
        df = entry_mod.queries()[name](spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert df.columns
    assert stream_starts.n == streams_before, f"{name}: building it started a streaming query"
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= BUILD_JOB_EXCEPTIONS.get(name, MAX_BUILD_JOBS), f"{name}: build ran {jobs} jobs"


def test_staged_query_follows_rewritten_input(spark, tmp_path):
    """A query that stages a copy of its input answers from the input
    as it is now: after ``documents.parquet`` is rewritten in place, the
    next ``jsonl_roundtrip`` build must not read the first build's copy,
    and the first build's copy is gone."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    from keras_ocr_spark.driver_queries import _staging_path

    def staged_copies():
        return set(glob.glob("/tmp/docs_jsonl_*/**/_SUCCESS", recursive=True))

    before = staged_copies()
    docs_path = tmp_path / "documents.parquet"
    shutil.copy(f"{SF_SMOKE}/documents.parquet", docs_path)
    root = Path(_staging_path(str(tmp_path), "docs_jsonl", "documents")).parent
    try:
        build = entry_mod.queries()["jsonl_roundtrip"]
        assert build(spark, str(tmp_path)).count() == pq.read_metadata(docs_path).num_rows

        docs = pq.read_table(docs_path)
        subset = docs.slice(0, docs.num_rows // 3)
        pq.write_table(subset, docs_path)
        want = sorted(
            zip(*(subset.column(c).to_pylist() for c in ("doc_id", "text", "lang", "source", "n_chars")))
        )
        got = sorted(tuple(r) for r in build(spark, str(tmp_path)).collect())
        assert got == want
        assert len(staged_copies() - before) == 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_staging_path_removes_stale_files_and_directories(tmp_path):
    """Staging a new listing clears the root of both earlier copies
    (directories) and the plain files of an older flat copy."""
    import shutil

    from keras_ocr_spark.driver_queries import _staging_path

    sf_dir = str(tmp_path)
    (tmp_path / "documents.parquet").write_bytes(b"v1")
    old_copy = Path(_staging_path(sf_dir, "stg_test", "documents"))
    root = old_copy.parent
    try:
        (old_copy / "sub").mkdir(parents=True)
        (old_copy / "sub" / "part-0").write_bytes(b"x")
        (root / "part-00000.json").write_bytes(b"flat")
        (root / "_SUCCESS").write_bytes(b"")
        (tmp_path / "documents.parquet").write_bytes(b"v2 rewritten")
        new_copy = Path(_staging_path(sf_dir, "stg_test", "documents"))
        assert new_copy != old_copy
        assert list(root.iterdir()) == []
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_documents_shape_precondition_for_extract_oracle(sf):
    """The extract_documents / eval_score oracles assume the synthetic
    documents (a) contain no markup chars ('<', '&') so the decode chain
    is the identity beyond ws-collapse, and (b) are long enough that
    every doc survives the size threshold and the eval span offsets
    (>= 41 chars). If the testdata generator ever changes shape, THIS
    test names the oracles to revisit instead of letting them silently
    rot (ADVICE.md round-1, item 5)."""
    import duckdb

    path = f"/root/testdata/{sf}/documents.parquet"
    if not Path(path).exists():
        pytest.skip(f"no {sf} testdata")
    bad, minlen = duckdb.sql(
        f"SELECT sum(CASE WHEN text LIKE '%<%' OR text LIKE '%&%' THEN 1 ELSE 0 END), min(length(text)) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    assert bad == 0, "documents now contain markup chars: extract_documents oracle is invalid"
    assert minlen >= 41, "documents shorter than eval_score span offsets: eval oracle is invalid"


#: ``keras_ocr_spark`` modules that no module of the package, no script,
#: ``__spark_entry__.py`` and no perfbench module imports; only tests
#: reach them. The dict is empty: a module with no caller gets one on a
#: kept path, or goes with its tests.
NO_CALLER: dict[str, str] = {}


def _non_test_sources() -> list[Path]:
    return [
        *(REPO / "keras_ocr_spark").rglob("*.py"),
        *(REPO / "scripts").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
        REPO / "__spark_entry__.py",
    ]


def _modules_imported_outside_tests() -> tuple[set[str], set[str]]:
    """(every ``keras_ocr_spark`` module, those some non-test source
    imports), with relative imports resolved against the importer."""
    import ast

    def modname(path: Path) -> str:
        parts = path.relative_to(REPO).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    pkg_dir = REPO / "keras_ocr_spark"
    modules = {modname(p) for p in pkg_dir.rglob("*.py") if p.name != "__init__.py"}
    imported = set()
    for src in _non_test_sources():
        me = modname(src) if src.is_relative_to(pkg_dir) else ""
        package = me if src.name == "__init__.py" else me.rpartition(".")[0]
        for node in ast.walk(ast.parse(src.read_text())):
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                    base = ".".join([*anchor, base] if base else anchor)
                targets = [base, *(f"{base}.{a.name}" for a in node.names)]
            else:
                continue
            imported.update(t for t in targets if t in modules and t != me)
    return modules, imported


def test_no_new_module_without_a_caller():
    # equality, not subset: an entry whose module gained a caller, or
    # was deleted, comes off the dict too
    modules, imported = _modules_imported_outside_tests()
    assert sorted(modules - imported) == sorted(NO_CALLER)


#: Top-level functions and classes of called modules whose name no
#: non-test source uses outside its own ``def``. The same rule as
#: ``NO_CALLER``, one level down: this dict may only shrink.
NO_CALLER_FUNCTIONS = {
    "clusters.large_star": "one star step as an operator; the loop runs its edge form, tested directly",
    "transcripts.spark_transcripts": "the synthetic transcripts as a DataFrame, the parity tests' input",
    "extraction.read_transcript_stream": "streaming extraction entry point; no kept job streams, tested directly",
    "extraction.start_extraction": "streaming extraction entry point; no kept job streams, tested directly",
    "hashing.simhash64_py": "pure-Python SimHash, the golden the Arrow simhash kernel is tested against",
}


def test_no_new_function_without_a_caller():
    # A name scan over code, not text: a name used as a variable, an
    # attribute or an import anywhere in a non-test source, outside the
    # top-level ``def`` of that name, counts as called; a mention in a
    # docstring or comment does not. Package ``__init__`` files only
    # re-export, so they are not callers; decorated functions (the
    # ``@register`` queries) are reached through their registry.
    import ast

    used = set()
    for src in _non_test_sources():
        if src.name == "__init__.py":
            continue
        for stmt in ast.parse(src.read_text()).body:
            own = getattr(stmt, "name", None)
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                elif isinstance(node, ast.alias):
                    name = node.name
                else:
                    continue
                if name != own:
                    used.add(name)
    uncalled = set()
    for path in (REPO / "keras_ocr_spark").rglob("*.py"):
        module = ".".join(path.relative_to(REPO).with_suffix("").parts)
        if path.name == "__init__.py" or module in NO_CALLER:
            continue
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
                and node.name not in used
            ):
                uncalled.add(f"{path.stem}.{node.name}")
    assert sorted(uncalled) == sorted(NO_CALLER_FUNCTIONS)


def test_no_unpartitioned_window_spec():
    # A ``Window`` ordered with no partition sorts all its rows in one
    # task. The plan bound in ``tests/test_plan_shape.py`` sees only the
    # registered queries; this scan covers the whole package. It looks
    # for ``<Window>.orderBy(...)`` calls, under whatever name the module
    # imports ``Window`` as (``W``, ``Window``, ...); a spec with a
    # partition starts from ``partitionBy`` instead.
    import ast

    found = []
    pkg = REPO / "keras_ocr_spark"
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        names = {
            a.asname or a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql"
            for a in node.names
            if a.name == "Window"
        }
        found += [
            f"{path.relative_to(pkg)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "orderBy"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in names
        ]
    assert found == []


#: ``scripts/*.py`` that no tier-1 test runs: ``check_oracles.py`` is the
#: driver's gate, run on its own over every registered query.
NOT_RUN_BY_TESTS = {"check_oracles.py"}


def test_no_script_without_a_test_that_runs_it():
    # A test runs a script by the path it hands to a subprocess
    # (``REPO / "scripts/<name>.py"``). Equality, as above: a script that
    # gains a test comes off the set.
    import ast

    constants = {
        node.value
        for path in (REPO / "tests").glob("test_*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
    }
    scripts = {p.name for p in (REPO / "scripts").glob("*.py")}
    assert sorted(n for n in scripts if f"scripts/{n}" not in constants) == sorted(NOT_RUN_BY_TESTS)
