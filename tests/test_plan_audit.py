"""Plan audit: the executed physical plans have the shapes they were designed
for — no CartesianProduct and no per-row Python (BatchEvalPython; Arrow
kernels show as ArrowEvalPython / MapInPandas) in any contract query,
parquet scans prune columns and push filters, a dimension join is
broadcast, and blocking caps every hot key before its shuffle."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
from berkeley_entity_spark.config import SynthConfig
from berkeley_entity_spark.operators.blocking import (
    MAX_BLOCK,
    candidate_pairs,
    distinct_surfaces,
)
from berkeley_entity_spark.operators.extract import extract_mentions
from berkeley_entity_spark.synth import generate_webpages
from conftest import SF_TINY as SF


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_product_or_row_python(spark):
    failures = []
    for name, fn in entrymod.queries().items():
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: per-row Python UDF (BatchEvalPython)")
    assert not failures, failures


def test_extract_prunes_html_and_pushes_lang(spark, tmp_path):
    pages, _ = generate_webpages(spark, SynthConfig(n_pages=10, n_entities=10))
    pages.write.parquet(str(tmp_path / "pages"))
    stored = spark.read.parquet(str(tmp_path / "pages"))
    plan = _plan(extract_mentions(stored.where("lang = 'en'")))
    assert "html" not in plan.split("ReadSchema")[-1], plan
    assert "PushedFilters: []" not in plan, plan


def test_dimension_join_is_broadcast(spark):
    assert "BroadcastHashJoin" in _plan(entrymod.queries()["q_broadcast_dim"](spark, SF))


def _parent(lines: list[str], i: int) -> str:
    """The tree-string line of the operator directly above lines[i]."""
    def depth(line):
        return len(line) - len(line.lstrip(" :|+-"))

    return next(ln for ln in reversed(lines[:i]) if depth(ln) < depth(lines[i]))


def test_blocking_caps_hot_keys_before_the_shuffle(spark):
    """The north rule's explicit skew handling: the rn <= MAX_BLOCK cap of
    candidate_pairs runs as a partial WindowGroupLimit on the map side of
    the block-key exchange (and a final one after it), so a hot key never
    ships more than MAX_BLOCK rows per map task."""
    names = [f"name{i:03d} smith" for i in range(30)] + ["acme corp", "gdc"]
    mentions = spark.createDataFrame(
        [(f"u{i}", i, n, False) for i, n in enumerate(names)],
        "url string, mention_id long, norm_name string, is_acr boolean",
    )
    surfaces = distinct_surfaces(mentions).persist()
    lines = _plan(candidate_pairs(surfaces, surfaces.count())).splitlines()
    limit = f"row_number(), {MAX_BLOCK}, "
    partial = [
        i for i, ln in enumerate(lines)
        if "WindowGroupLimit [block_key" in ln and ln.rstrip().endswith(limit + "Partial")
    ]
    assert partial, "\n".join(lines)
    assert any(ln.rstrip().endswith(limit + "Final") for ln in lines)
    for i in partial:
        assert "Exchange hashpartitioning(block_key" in _parent(lines, i), lines[i]
