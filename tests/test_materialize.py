"""plans.materialize: the one materialize-and-release step.

Query cores return lazy trees; a registered binding either returns its
core's tree or wraps it in ``materialize(out, *reused)``. The helper
caches the reused frames for one serialized build, checkpoints ``out``
eagerly and releases the caches in a ``finally``."""

from __future__ import annotations

import ast
import pathlib
import sys

import pytest
from pyspark.sql import functions as F

from kawa_spark import registry
from kawa_spark.plans.materialize import materialize

registry.load_all()

SF = "/root/testdata/sf0.001"
PKG = pathlib.Path(__file__).resolve().parent.parent / "kawa_spark"

# The keys whose cores reuse a frame (a self-join or verify side).
IN_SCOPE = [
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_incremental_embedding",
    "dedup_incremental_minhash",
    "dedup_incremental_image",
    "dedup_lsh_recall",
    "similarity_containment",
    "quality_lm_commonness",
    "multimodal_image_dedup_near",
    "stream_exec_dedup_incremental_minhash",
    "stream_exec_dedup_incremental_embedding",
    "stream_exec_dedup_incremental_image",
]
MATERIALIZED = [
    k for k in IN_SCOPE if "materialize" in registry.QUERIES[k].__code__.co_names
]

# Where caching and eager checkpoints may appear outside the helper:
# the per-round lineage truncation of the connected-components loop,
# the lazy ``.localCheckpoint()`` guards on drained memory-sink frames
# (a self-join analysis bug on View(MemoryPlan)), and MultiSink's
# per-batch fan-out cache.
ALLOWED = {
    ("plans/materialize.py", "materialize"): {"persist", "unpersist", "localCheckpoint"},
    ("operators/components.py", "*"): {"localCheckpoint"},
    ("queries/streaming_mode.py", "*"): {"localCheckpoint()"},
    ("sinks/sinks.py", "MultiSink.write_batch"): {"persist", "unpersist"},
}
WATCHED = {"persist", "unpersist", "cache", "localCheckpoint", "checkpoint"}


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _calls(path: pathlib.Path):
    """(enclosing function qualname, method, has_args) of every
    ``.persist/.unpersist/.cache/.localCheckpoint/.checkpoint`` call."""
    out = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                visit(child, f"{scope}.{child.name}" if scope else child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in WATCHED
            ):
                has_args = bool(child.args or child.keywords)
                out.append((scope, child.func.attr, has_args))
            visit(child, scope)

    visit(ast.parse(path.read_text()), "")
    return out


def test_caching_only_in_the_helper_and_named_exceptions():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for scope, method, has_args in _calls(path):
            allowed = ALLOWED.get((rel, scope), set()) | ALLOWED.get(
                (rel, "*"), set()
            )
            # "m()" allows the call without arguments only
            if not (
                method in allowed
                or (f"{method}()" in allowed and not has_args)
            ):
                stray.append(f"{rel}:{scope}: .{method}")
    assert stray == [], stray


def test_no_lazy_twins_and_no_checkpoint_flags():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.FunctionDef):
                continue
            if node.name.endswith("_lazy"):
                found.append(f"{path.name}:{node.name}")
            for arg in node.args.args + node.args.kwonlyargs:
                if arg.arg in ("checkpoint", "persist") and (
                    isinstance(arg.annotation, ast.Name)
                    and arg.annotation.id == "bool"
                ):
                    found.append(f"{path.name}:{node.name}({arg.arg})")
    assert found == [], found


def test_helper_releases_caches_when_the_action_raises(spark):
    base = spark.range(50).select(F.col("id").alias("k"))
    reused = base.select("k", (F.col("k") % 7).alias("b"))
    boom = F.raise_error(F.lit("materialize test: checkpoint action"))
    out = reused.alias("x").join(reused.alias("y"), "b").select(
        F.when(F.col("x.k") > 40, boom).otherwise(F.col("x.k")).alias("k")
    )
    with pytest.raises(Exception, match="checkpoint action"):
        materialize(out, base, reused)
    assert _cache_manager(spark).isEmpty()

    # the cache-filling count raises too: still released
    bad = base.select(F.when(F.col("k") > 40, boom).otherwise(1).alias("v"))
    with pytest.raises(Exception, match="checkpoint action"):
        materialize(bad.select("v"), bad)
    assert _cache_manager(spark).isEmpty()


def test_helper_result_equals_lazy_tree(spark):
    base = spark.range(200).select(F.col("id").alias("k"))
    reused = base.select("k", (F.col("k") % 11).alias("b"))
    out = reused.alias("x").join(reused.alias("y"), "b").groupBy("b").count()
    lazy = sorted(tuple(r) for r in out.collect())
    got = materialize(out, reused)
    assert sorted(tuple(r) for r in got.collect()) == lazy
    assert _cache_manager(spark).isEmpty()


def _in_memory_relations(jnode, out: list) -> None:
    """Every InMemoryRelation a plan reads, nested caches included:
    descends AQE wrappers, query stages and the cached plans."""
    name = jnode.getClass().getSimpleName()
    if "InMemoryTableScan" in name:
        rel = jnode.relation()
        attrs = rel.output().iterator()
        names = []
        while attrs.hasNext():
            names.append(str(attrs.next().name()))
        out.append(names)
        _in_memory_relations(rel.cachedPlan(), out)
        return
    if "AdaptiveSparkPlan" in name:
        _in_memory_relations(jnode.executedPlan(), out)
        return
    if "QueryStage" in name:
        _in_memory_relations(jnode.plan(), out)
        return
    it = jnode.children().iterator()
    while it.hasNext():
        _in_memory_relations(it.next(), out)


@pytest.mark.parametrize("key", MATERIALIZED)
def test_checkpoint_action_reads_each_reused_frame_from_memory(
    spark, key, monkeypatch
):
    """The reused frames are persisted after ``out`` is built; Spark
    substitutes them when the checkpoint action plans, so that action
    reads an InMemoryTableScan for every reused frame."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    fn = registry.QUERIES[key]
    mod = sys.modules[fn.__module__]
    seen: list[tuple[list[str], list]] = []
    orig_cp = _CDF.localCheckpoint

    def spy_cp(self, eager=True):
        res = orig_cp(self, eager=eager)
        rels: list = []
        _in_memory_relations(self._jdf.queryExecution().executedPlan(), rels)
        seen[-1][1].extend(rels)
        return res

    def spy_materialize(out, *reused):
        seen.append(([df.columns for df in reused], []))
        return materialize(out, *reused)

    monkeypatch.setattr(_CDF, "localCheckpoint", spy_cp)
    monkeypatch.setattr(mod, "materialize", spy_materialize)
    fn(spark, SF)
    assert len(seen) == 1, key
    reused, rels = seen[0]
    assert reused, key
    for cols in reused:
        assert cols in rels, (key, cols, rels)
    assert _cache_manager(spark).isEmpty()
