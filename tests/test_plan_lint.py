"""Repo-wide physical-plan lint over EVERY registered query.

Complements test_plans.py (which pins specific plan shapes): this walks
the full ``queries()`` registry — the exact surface the driver grades —
and rejects plan nodes that are categorically wrong at 100 TB:

- ``BatchEvalPython``: a row-at-a-time Python UDF stage. Banned
  outright — the engine's only Python stages are Arrow-batched
  (``ArrowEvalPython`` pandas UDFs for the parse contract,
  ``MapInPandas`` for multimodal plumbing, ``MapInArrow`` for the
  blocked cosine and set-overlap kernels), which ARE the sanctioned
  fast path and are allowed anywhere downstream queries compose them.
- ``CartesianProduct``: an unbroadcast cross join is a |n|x|m| shuffle;
  every intentional all-pairs op here broadcasts one side
  (BroadcastNestedLoopJoin) and documents why.

A new query that sneaks a Python row loop or a cartesian join into the
registry fails here before it ever reaches the bench.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from logzilla_spark.testdata import ensure_pages

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module", autouse=True)
def _data(spark):
    ensure_pages(SF)


def _registry():
    return sorted(entrymod.queries().items())


@pytest.mark.parametrize("name,fn", _registry(), ids=[n for n, _ in _registry()])
def test_query_plan_lint(spark, name, fn):
    plan = _plan(fn(spark, SF))
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in plan\n{plan}"
    )
    assert "CartesianProduct" not in plan, (
        f"{name}: unbroadcast cartesian join in plan\n{plan}"
    )


def test_no_rdd_access_in_engine_source():
    """The engine never touches DataFrame RDD internals: every
    ``.rdd``/``mapPartitions`` escape hatch forces a plan conversion,
    exits whole-stage codegen, and does not exist under Spark Connect.
    (``sparkContext`` is allowed — session/lineage plumbing — but data
    paths must stay declarative.)"""
    import pathlib

    import logzilla_spark

    root = pathlib.Path(logzilla_spark.__file__).parent
    hits = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if ".rdd" in p.read_text() or "mapPartitions" in p.read_text()
    ]
    assert not hits, f"RDD access in engine source: {hits}"


def test_lineage_truncation_only_in_caching_module():
    """One lifetime policy for intermediate state: checkpointing lives
    in ``functions/caching.py::truncate`` alone, and no operator sets
    the shared SparkContext's checkpoint dir (the deployment does, via
    ``spark.checkpoint.dir``). Streaming's ``checkpointLocation`` is a
    different mechanism and does not match these patterns."""
    import pathlib

    import logzilla_spark

    root = pathlib.Path(logzilla_spark.__file__).parent
    patterns = (".checkpoint(", "localCheckpoint(", "setCheckpointDir")
    hits = {
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if any(pat in p.read_text() for pat in patterns)
    }
    assert hits == {"functions/caching.py"}, hits


def test_vector_folds_only_in_vector_kernel():
    """Pinned vector arithmetic lives in ``functions/vectors.py`` alone:
    no operator or plan builds a Catalyst cosine, dot or squared-L2
    fold. The fold helpers stay as the reference that tests, scripts
    and the DuckDB twins compare against."""
    import ast
    import pathlib

    import logzilla_spark

    folds = {"dot_expr", "cosine_expr", "l2sq_expr"}
    root = pathlib.Path(logzilla_spark.__file__).parent
    hits = []
    for sub in ("operators", "plans"):
        for p in sorted((root / sub).rglob("*.py")):
            tree = ast.parse(p.read_text())
            # cosine_expr composes dot_expr: calls inside a fold's own
            # definition are the definition, not a use
            inside = {
                id(n)
                for f in ast.walk(tree)
                if isinstance(f, ast.FunctionDef) and f.name in folds
                for n in ast.walk(f)
            }
            hits += [
                f"{p.relative_to(root)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Call) and id(n) not in inside
                and getattr(n.func, "id", getattr(n.func, "attr", None)) in folds
            ]
    assert not hits, hits


def test_scripts_take_core_count_from_session():
    """Scripts size their session through ``get_spark()``, whose
    ``session.DEFAULT_CPUS`` reads ``SPARK_GRAFT_CPUS``: a literal
    ``cores=`` (or a second read of the variable) would run 32 tasks on
    a 4-vCPU host whatever the host asks for. ``standalone_scaling.py``
    varies cores on purpose."""
    import ast
    import pathlib

    root = pathlib.Path(entrymod.__file__).parent / "scripts"
    hits = []
    for p in sorted(root.glob("*.py")):
        if p.name == "standalone_scaling.py":
            continue
        tree = ast.parse(p.read_text())
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and getattr(node.func, "id", None) == "get_spark"):
                continue
            args = [*node.args[:1], *(k.value for k in node.keywords if k.arg == "cores")]
            if any(isinstance(a, ast.Constant) for a in args):
                hits.append(f"{p.name}:{node.lineno}")
        if "SPARK_GRAFT_CPUS" in p.read_text():
            hits.append(f"{p.name}: reads SPARK_GRAFT_CPUS")
    assert not hits, hits


def test_funnel_verdicts_exactly_two_corpus_scans(spark):
    """curation_funnel's stage-0-4 flags come from ONE corpus scan plus
    ONE bigram explode scan (round-3 verdict: the previous shape built
    four per-operator lineages + id joins — ~5 scans of documents for
    the report every curation run publishes). A third Relation in this
    plan means a builder regressed into its own lineage."""
    from logzilla_spark.operators.textstats import _funnel_verdicts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        _funnel_verdicts(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Relation [") == 2, plan
