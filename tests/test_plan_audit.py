"""Plan audit: the executed physical plans have the shapes they were designed
for — no CartesianProduct and no per-row Python (BatchEvalPython; Arrow
kernels show as ArrowEvalPython / MapInPandas) in any contract query,
parquet scans prune columns and push filters, and a dimension join is
broadcast."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
from berkeley_entity_spark.config import SynthConfig
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
