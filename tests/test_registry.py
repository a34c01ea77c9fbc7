"""The session registry (ankaflow_spark/session.py): per-session memos
keyed by input fingerprint and the per-process scratch root."""

import ast
import os
import subprocess
import sys
import tempfile

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scratch_root_is_per_process_and_removed_at_exit():
    """Two live processes get different scratch roots under the temp
    dir, and each root is gone once its process exits."""
    code = (
        "import sys\n"
        "from ankaflow_spark.session import scratch, scratch_root\n"
        "scratch('probe_')\n"
        "print(scratch_root(), flush=True)\n"
        "sys.stdin.readline()\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code],
            cwd=REPO,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(2)
    ]
    try:
        roots = [p.stdout.readline().strip() for p in procs]
        assert roots[0] != roots[1], roots
        for root in roots:
            assert os.path.dirname(root) == tempfile.gettempdir(), root
            assert os.path.isdir(root), root
    finally:
        for p in procs:
            p.communicate("\n", timeout=60)
    assert [p.returncode for p in procs] == [0, 0]
    for root in roots:
        assert not os.path.exists(root), root


def test_memo_keys_on_content_and_reset_keeps_durable(spark, tmp_path):
    from ankaflow_spark.session import memo, memo_names, reset_derived

    src = tmp_path / "input.txt"
    src.write_text("one")
    builds = []

    def build():
        builds.append(src.read_text())
        return src.read_text()

    assert memo(spark, "__probe__", [str(src)], build) == "one"
    assert memo(spark, "__probe__", [str(src)], build) == "one"
    src.write_text("three")  # rewritten in place: new size, new mtime
    assert memo(spark, "__probe__", [str(src)], build) == "three"
    assert builds == ["one", "three"]

    memo(spark, "__probe_durable__", [str(src)], lambda: 1, durable=True)
    reset_derived(spark)
    names = memo_names(spark)
    assert "__probe__" not in names
    assert "__probe_durable__" in names


def test_memoized_query_sees_in_place_rewrite(spark, tmp_path):
    """A shared relation must follow its input's content, not its path:
    rewriting documents.parquet in place under the same sf_dir must give
    fresh t13 results (the memo key carries the file fingerprint)."""
    from ankaflow_spark.operators.textops import QUERIES
    from ankaflow_spark.session import forget

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    docs = sf_dir / "documents.parquet"

    def write(rows):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(docs, index=False)

    try:
        write([(1, "a b"), (2, "a b"), (3, "a c")])
        first = QUERIES["t13_bigram_surprisal"](spark, str(sf_dir)).collect()
        assert [r["doc_id"] for r in first] == [1, 2, 3]
        write([(7, "x y z"), (8, "x y")])
        second = QUERIES["t13_bigram_surprisal"](spark, str(sf_dir)).collect()
        assert [r["doc_id"] for r in second] == [7, 8]
        assert [r["n_bigrams"] for r in second] == [2, 1]
    finally:
        # the tmp dir's views replaced the suite's table views
        forget(spark, "table_views")


def _engine_modules(with_session=False):
    """(path, AST) of every engine module, session.py only when asked."""
    pkg = os.path.join(REPO, "ankaflow_spark")
    for dirpath, _, files in os.walk(pkg):
        for fname in files:
            path = os.path.join(dirpath, fname)
            if not fname.endswith(".py") or (
                path == os.path.join(pkg, "session.py") and not with_session
            ):
                continue
            with open(path) as fh:
                yield path, ast.parse(fh.read())


def test_no_tempdir_or_session_id_keys_outside_registry():
    """Every scratch dir comes from session.scratch*/scratch_root and
    every shared-state key from session.memo: no other engine module
    calls tempfile.gettempdir/mkdtemp or keys on id(spark)."""
    offenders = []
    for path, tree in _engine_modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in ("gettempdir", "mkdtemp"):
                offenders.append(f"{path}:{node.lineno} tempfile.{node.attr}")
            elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
                offenders.append(f"{path}:{node.lineno} from tempfile import")
            elif (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "id"
                and any(getattr(a, "id", None) == "spark" for a in node.args)
            ):
                offenders.append(f"{path}:{node.lineno} id(spark)")
    assert not offenders, offenders


def _builder_uses(tree):
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and getattr(node.value, "id", None) == "SparkSession"
    ]


def test_sessions_are_built_only_by_get_spark():
    """session.get_spark sets the engine's static confs (the codegen
    cache size among them), which a session built elsewhere would
    silently drop: no other engine module uses SparkSession.builder,
    and bench.py builds its session through get_spark."""
    offenders = [
        f"{path}:{line} SparkSession.builder"
        for path, tree in _engine_modules()
        for line in _builder_uses(tree)
    ]
    assert not offenders, offenders
    with open(os.path.join(REPO, "bench.py")) as fh:
        bench = ast.parse(fh.read())
    assert not _builder_uses(bench)
    assert any(
        isinstance(node, ast.Call) and getattr(node.func, "id", None) == "get_spark"
        for node in ast.walk(bench)
    )


def test_stream_queries_run_only_through_the_stream_driver():
    """Every streaming query is built in streaming/stream.py, and every
    foreachBatch query in its one micro-batch driver (``_drive``), which
    owns the state-dir clearing, the drain, the empty-source rule and
    the pinned read-back: no other engine module uses .writeStream, and
    stream.py calls foreachBatch in no other function."""
    stream_py = os.path.join(REPO, "ankaflow_spark", "streaming", "stream.py")
    offenders, in_driver = [], 0
    for path, tree in _engine_modules():
        if path != stream_py:
            offenders += [
                f"{path}:{node.lineno} .writeStream"
                for node in ast.walk(tree)
                if isinstance(node, ast.Attribute) and node.attr == "writeStream"
            ]
            continue
        for top in tree.body:
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
                    if getattr(top, "name", None) == "_drive":
                        in_driver += 1
                    else:
                        offenders.append(f"{path}:{node.lineno} foreachBatch")
    assert not offenders, offenders
    assert in_driver == 1


def _calls_by_function(tree, attr):
    """(top-level function name, line) of every ``<expr>.<attr>(...)``
    call in a module."""
    return [
        (getattr(top, "name", None), node.lineno)
        for top in tree.body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    ]


def test_confs_and_stream_starts_are_scoped_in_one_place():
    """Session confs are restored in one place, ``session.scoped_conf``
    (unset-aware, also when the block raises): no other engine function
    calls ``spark.conf.unset``. Every stream writer starts in
    ``stream.py:_drain``, which scopes the checkpoint manager from
    before ``start()`` to after ``stop()``: no other function in
    stream.py calls ``.start()`` (no other module has a stream writer,
    see the ``.writeStream`` guard above)."""
    pkg = os.path.join(REPO, "ankaflow_spark")
    stream_py = os.path.join(pkg, "streaming", "stream.py")
    allowed_unset = (os.path.join(pkg, "session.py"), "scoped_conf")
    offenders, unsets, starts = [], 0, 0
    for path, tree in _engine_modules(with_session=True):
        for func, line in _calls_by_function(tree, "unset"):
            if (path, func) == allowed_unset:
                unsets += 1
            else:
                offenders.append(f"{path}:{line} .unset in {func}")
        if path != stream_py:
            continue
        for func, line in _calls_by_function(tree, "start"):
            if func == "_drain":
                starts += 1
            else:
                offenders.append(f"{path}:{line} .start() in {func}")
    assert not offenders, offenders
    assert (unsets, starts) == (1, 1)


_QUOTE_CHARS = set("'\"`")


def _quote_comparisons(tree):
    """(line, enclosing function) of every comparison of a value with a
    quote character: ``==``/``in`` and friends, and ``startswith`` /
    ``endswith`` calls."""
    found = []

    def quoted(node):
        if isinstance(node, ast.Tuple):
            return any(quoted(elt) for elt in node.elts)
        return isinstance(node, ast.Constant) and isinstance(node.value, str) and bool(
            _QUOTE_CHARS & set(node.value)
        )

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Compare):
            operands = [node.left, *node.comparators]
        elif isinstance(node, ast.Call) and getattr(node.func, "attr", None) in (
            "startswith",
            "endswith",
        ):
            operands = node.args
        else:
            operands = []
        if any(quoted(o) for o in operands):
            found.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_sql_text_is_read_only_through_the_lexer():
    """String literals, quoted names and comments are told apart in one
    place, the SQL front's lexer (``sqlfront/rewrite.py:lex``): no other
    function in sqlfront/ or session.py compares a character with a
    quote, so no pass can re-track quotes on its own and drift."""
    pkg = os.path.join(REPO, "ankaflow_spark")
    sqlfront = os.path.join(pkg, "sqlfront")
    lexer = (os.path.join(sqlfront, "rewrite.py"), "lex")
    modules = [
        (p, t)
        for p, t in _engine_modules(with_session=True)
        if os.path.dirname(p) == sqlfront or p == os.path.join(pkg, "session.py")
    ]
    assert len(modules) >= 5, modules
    offenders = [
        f"{path}:{line} in {func}"
        for path, tree in modules
        for line, func in _quote_comparisons(tree)
        if (path, func) != lexer
    ]
    assert not offenders, offenders


def _reader_of(node):
    """``"read"`` or ``"write"``, whichever an expression's
    call/attribute chain passes last (``spark.read.option(...)``,
    ``df.write.mode(...)``), else the name the chain starts from."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute) and node.attr in ("read", "write"):
            return node.attr
        node = node.func if isinstance(node, ast.Call) else node.value
    return getattr(node, "id", None)


def _batch_parquet_reads(tree):
    """(top-level definition, line) of every batch parquet read in a
    module: a ``.parquet(...)`` or ``.format("parquet")`` call on a
    chain through ``.read``, or on a name assigned from such a chain."""
    readers = {"read"} | {
        target.id
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign) and _reader_of(node.value) == "read"
        for target in node.targets
        if isinstance(target, ast.Name)
    }
    found = []
    for top in tree.body:
        for node in ast.walk(top):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr, recv = node.func.attr, node.func.value
            parquet = attr == "parquet" or (
                attr == "format"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "parquet"
            )
            if parquet and _reader_of(recv) in readers:
                found.append((getattr(top, "name", None), node.lineno))
    return found


def test_parquet_is_read_only_through_the_footer_helper():
    """Every batch parquet read in the engine goes through
    ``sources/parquet.py:read_parquet``, which takes the schema from the
    file's footer instead of running Spark's schema-inference job: no
    other function calls ``.read.parquet(`` or reads
    ``format("parquet")`` itself."""
    helper = (os.path.join(REPO, "ankaflow_spark", "sources", "parquet.py"), "read_parquet")
    offenders, in_helper = [], 0
    for path, tree in _engine_modules(with_session=True):
        for func, line in _batch_parquet_reads(tree):
            if (path, func) == helper:
                in_helper += 1
            else:
                offenders.append(f"{path}:{line} parquet read in {func}")
    assert not offenders, offenders
    assert in_helper == 1


def test_checkpoints_are_taken_only_by_materialize():
    """Every local checkpoint the engine takes goes through
    ``session.materialize``, which owns that storage policy and its
    reasons: no other engine function calls ``.localCheckpoint(``."""
    helper = (os.path.join(REPO, "ankaflow_spark", "session.py"), "materialize")
    offenders, in_helper = [], 0
    for path, tree in _engine_modules(with_session=True):
        for func, line in _calls_by_function(tree, "localCheckpoint"):
            if (path, func) == helper:
                in_helper += 1
            else:
                offenders.append(f"{path}:{line} .localCheckpoint in {func}")
    assert not offenders, offenders
    assert in_helper == 1


def test_materialize_outlives_its_source_and_release_frees_it(spark, tmp_path):
    """A materialized view reads the stored rows, not its input: it still
    answers after the parquet file it was read from is deleted. ``release``
    on the returned DataFrame frees its blocks."""
    from ankaflow_spark.session import materialize, release

    src = tmp_path / "probe.parquet"
    pd.DataFrame({"k": [1, 2, 3]}).to_parquet(src, index=False)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    out = materialize(spark.read.parquet(str(src)), "__probe_materialized__")
    assert persistent().size() == before + 1
    src.unlink()
    rows = spark.table("__probe_materialized__").collect()
    assert sorted(r["k"] for r in rows) == [1, 2, 3]
    release(out)
    assert persistent().size() == before
    spark.catalog.dropTempView("__probe_materialized__")


def test_catalog_tables_live_under_the_scratch_root(engine):
    """The test session (tests/conftest.py, like tools/oracle_check.py)
    puts its catalog warehouse under ``scratch_root()``, so
    ``write_bucketed`` tables of two runs from one checkout never share
    (and delete) each other's files; nothing lands in the cwd
    ``spark-warehouse/``. The library default stays Spark's, so a flow's
    bucketed sink tables outlive the process."""
    from ankaflow_spark.session import scratch_root

    spark = engine.spark
    cwd_warehouse = os.path.join(os.getcwd(), "spark-warehouse")

    def cwd_tables():
        return set(os.listdir(cwd_warehouse)) if os.path.isdir(cwd_warehouse) else set()

    before = cwd_tables()
    try:
        engine.write_bucketed(
            spark.range(10).withColumnRenamed("id", "k"), "probe_wh_b", "k", n_buckets=2
        )
        location = [
            r["data_type"]
            for r in spark.sql("DESCRIBE TABLE EXTENDED probe_wh_b").collect()
            if r["col_name"] == "Location"
        ]
        assert len(location) == 1
        path = location[0].removeprefix("file:")
        assert os.path.realpath(path).startswith(os.path.realpath(scratch_root()) + os.sep), path
        assert spark.table("probe_wh_b").count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS probe_wh_b")
    assert cwd_tables() == before
