"""End-to-end ER pipeline: F1 target, blocking recall, resume idempotence,
and no repeated work across runs (generated code, the extract kernel)."""

import json

import pytest
from pyspark.sql import functions as F

from berkeley_entity_spark.config import PipelineConfig, SynthConfig
from berkeley_entity_spark.evaluate import (
    blocking_recall,
    mention_detection_prf,
    pairwise_f1_combinatorial,
    pairwise_f1_on_labeled,
)
from berkeley_entity_spark.plans.checkpoint import CheckpointStore
from berkeley_entity_spark.plans.pipeline import run_pipeline
from berkeley_entity_spark.synth import generate_webpages, gold_pair_table


@pytest.fixture(scope="module")
def pipeline_result(spark, tiny_corpus, tmp_path_factory):
    _, pages, gold = tiny_corpus
    root = str(tmp_path_factory.mktemp("ckpt"))
    cfg = PipelineConfig(checkpoint_dir=root)
    store = CheckpointStore(root)
    res = run_pipeline(spark, pages, cfg, store=store, resume=False)
    res.clusters.cache().count()
    return cfg, store, res


def test_mention_detection_perfect(pipeline_result, tiny_corpus):
    _, _, gold = tiny_corpus
    _, _, res = pipeline_result
    md = mention_detection_prf(res.mentions, gold.where("lang = 'en'"))
    assert md["f1"] == pytest.approx(1.0)


def test_pairwise_f1_meets_target(pipeline_result, tiny_corpus):
    _, _, gold = tiny_corpus
    _, _, res = pipeline_result
    f1 = pairwise_f1_combinatorial(
        res.clusters, gold.where("lang = 'en'").select("mention_id", "entity_id")
    )
    assert f1["f1"] >= 0.99, f1


def test_pairwise_f1_on_labeled_pairs(pipeline_result, tiny_corpus, spark):
    """The BASELINE.json metric: F1 on labeled pairs under shared block key."""
    _, _, gold = tiny_corpus
    _, _, res = pipeline_result
    gp = gold_pair_table(gold.where("lang = 'en'")).cache()
    assert gp.where("label").count() > 0 and gp.where("NOT label").count() > 0
    f1 = pairwise_f1_on_labeled(gp, res.clusters)
    assert f1["f1"] >= 0.99, f1


def test_blocking_recall(pipeline_result, tiny_corpus):
    _, _, gold = tiny_corpus
    _, _, res = pipeline_result
    gp = gold_pair_table(gold.where("lang = 'en'"))
    rec = blocking_recall(gp, res.mentions, res.pairs)
    assert rec >= 0.98, rec


def test_resume_identical(pipeline_result, tiny_corpus, spark):
    """Kill-and-resume: rerun with resume=True must reuse stage tables and
    produce identical clusters."""
    cfg, store, res = pipeline_result
    _, pages, _ = tiny_corpus
    before = {(r["mention_id"], r["cluster_id"]) for r in res.clusters.collect()}
    res2 = run_pipeline(spark, pages, cfg, store=store, resume=True)
    after = {(r["mention_id"], r["cluster_id"]) for r in res2.clusters.collect()}
    assert before == after


def test_resume_from_partial(pipeline_result, tiny_corpus, spark, tmp_path_factory):
    """Resume after a simulated mid-run kill (only early stages on disk)."""
    import os
    import shutil

    cfg, store, res = pipeline_result
    _, pages, _ = tiny_corpus
    root2 = str(tmp_path_factory.mktemp("ckpt2"))
    # copy only the first two stage tables = killed after blocking
    for name in ("mentions", "candidate_pairs"):
        shutil.copytree(os.path.join(store.root, name), os.path.join(root2, name))
        shutil.copy(store._done_marker(name), os.path.join(root2, f"{name}._DONE"))
    cfg2 = PipelineConfig(checkpoint_dir=root2)
    res2 = run_pipeline(spark, pages, cfg2, store=CheckpointStore(root2), resume=True)
    before = {(r["mention_id"], r["cluster_id"]) for r in res.clusters.collect()}
    after = {(r["mention_id"], r["cluster_id"]) for r in res2.clusters.collect()}
    assert before == after


def test_metrics_lineage_written(pipeline_result, spark):
    _, store, _ = pipeline_result
    m = store.metrics(spark)
    stages = {r["stage"] for r in m.collect()}
    assert {"mentions", "candidate_pairs", "scored_pairs", "clusters"} <= stages
    assert m.where(F.col("rows_out") <= 0).count() == 0


def test_stage_rows_come_from_the_write(pipeline_result, spark):
    """_DONE and metrics.jsonl carry each stage table's true row count."""
    _, store, _ = pipeline_result
    logged = {r["stage"]: r["rows_out"] for r in store.metrics(spark).collect()}
    for name in ("mentions", "candidate_pairs", "scored_pairs", "clusters"):
        fresh = store.load(spark, name).count()
        with open(store._done_marker(name)) as f:
            assert json.load(f)["rows"] == fresh, name
        assert logged[name] == fresh, name


def test_save_runs_no_count_job(spark, tmp_path):
    """A stage save runs the write job and the re-read's parquet schema
    lookup, nothing else: its row count is observed by the write, not
    re-counted by further jobs."""
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-save", "checkpoint-save")
    try:
        CheckpointStore(str(tmp_path)).save(spark.range(1000), "r")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("checkpoint-save")) == 2


def test_checkpoint_store_refuses_uri_root(tmp_path, monkeypatch):
    """The _DONE markers and metrics.jsonl are plain files: a URI root would
    put them in a local "s3:/..." directory that resume never reads, so
    the store refuses it at construction and writes nothing."""
    monkeypatch.chdir(tmp_path)
    for root in ("s3://bucket/ckpt", "hdfs://nn/ckpt", "file:///tmp/ckpt"):
        with pytest.raises(ValueError, match="URI"):
            CheckpointStore(root)
    assert list(tmp_path.iterdir()) == []
    CheckpointStore(str(tmp_path / "local"))


def test_trained_weights_default_and_ge_handset(
    pipeline_result, tiny_corpus, spark, tmp_path_factory
):
    """Verdict task 4: the default pipeline scores with the TRAINED artifact
    (reference never scores untrained — PairwiseScorer.scala:13-15), and
    trained F1 >= hand-set F1 >= 0.99 end-to-end."""
    import numpy as np

    from berkeley_entity_spark.operators.scoring import (
        load_default_weights,
        weights_vector,
    )

    trained = load_default_weights()
    assert not np.allclose(trained, weights_vector()), "artifact missing"

    _, pages, gold = tiny_corpus
    _, _, res = pipeline_result  # fixture ran with the default = trained
    f1_trained = pairwise_f1_combinatorial(
        res.clusters, gold.where("lang = 'en'").select("mention_id", "entity_id")
    )["f1"]
    root = str(tmp_path_factory.mktemp("ckpt_hand"))
    res_hand = run_pipeline(
        spark, pages, PipelineConfig(checkpoint_dir=root),
        weights=weights_vector(), store=CheckpointStore(root), resume=False,
    )
    f1_hand = pairwise_f1_combinatorial(
        res_hand.clusters, gold.where("lang = 'en'").select("mention_id", "entity_id")
    )["f1"]
    assert f1_hand >= 0.99, f1_hand
    assert f1_trained >= f1_hand - 1e-9, (f1_trained, f1_hand)


@pytest.fixture(scope="module")
def small_pages(spark):
    pages, _ = generate_webpages(spark, SynthConfig(n_pages=200, n_entities=20))
    pages = pages.cache()
    pages.count()
    return pages


def _run(spark, pages, root, resume=False):
    return run_pipeline(
        spark, pages, PipelineConfig(checkpoint_dir=root),
        store=CheckpointStore(root), resume=resume,
    )


def test_steady_state_run_compiles_no_code(spark, small_pages, tmp_path):
    """Once warm, a run finds every generated class in the codegen cache:
    the per-run working set (~150 classes) must fit the session's cache, or
    an LRU cycle misses on every class (~143 compiles per run at Spark's
    default of 100).  AQE can number a few whole-stage codegen stages
    differently when concurrent query stages finish in another order; each
    such variant is a new class, compiled once, so up to three runs after
    the first may be needed before one compiles nothing."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    _run(spark, small_pages, str(tmp_path / "warm"))
    compiles = []
    for i in range(3):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        _run(spark, small_pages, str(tmp_path / str(i)))
        compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
        if compiles[-1] == 0:
            break
    assert compiles[-1] == 0, compiles


def test_steady_state_run_py4j_budget(spark, small_pages, tmp_path, py4j_calls):
    """Once warm, a run makes at most 2,500 py4j calls while it builds and
    runs its plans: the fixed expression lists are SQL text and the session
    has no per-Column call-site capture (session.py).  Before both, a run
    here made 9,247 calls, and 1,658 after; erbench's 1,000-page crawl
    went from 9,086-9,554 per run to about 1,600."""
    _run(spark, small_pages, str(tmp_path / "warm"))
    before = py4j_calls.n
    _run(spark, small_pages, str(tmp_path / "run"))
    calls = py4j_calls.n - before
    assert calls <= 2_500, calls


def test_extract_runs_once_and_not_on_resume(spark, small_pages, tmp_path):
    """The Python extract kernel reads each en page once per run (the
    properties stage reads extract's output three times), and a resumed
    run over a finished store reads no page at all."""
    seen = spark.sparkContext.accumulator(0)

    def touch(text):
        seen.add(1)
        return text

    pages = small_pages.withColumn("text", F.udf(touch, "string")("text"))
    n_en = small_pages.where("lang = 'en'").count()
    root = str(tmp_path)
    first = {tuple(r) for r in _run(spark, pages, root).clusters.collect()}
    assert seen.value == n_en
    again = {tuple(r) for r in _run(spark, pages, root, resume=True).clusters.collect()}
    assert seen.value == n_en
    assert again == first


def test_run_leaves_no_cached_table(spark, pipeline_result, tiny_corpus, tmp_path):
    """run_pipeline releases what it caches: the surface table and
    candidate_pairs' ranked key table, which is built on it, are uncached
    once the clusters stage, their last reader, is written.  (The module's
    fixtures keep their own cached inputs, so the test counts entries.)
    The stage tables are those of the module's earlier run on the same
    pages."""
    _, store, _ = pipeline_result
    _, pages, _ = tiny_corpus
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.numCachedEntries()
    root = str(tmp_path)
    run_pipeline(spark, pages, PipelineConfig(checkpoint_dir=root),
                 store=CheckpointStore(root), resume=False)
    assert cache_manager.numCachedEntries() == before
    again = CheckpointStore(root)
    for name in ("mentions", "candidate_pairs", "scored_pairs", "clusters"):
        first = store.load(spark, name)
        second = again.load(spark, name).select(*first.columns)
        assert first.exceptAll(second).isEmpty(), name
        assert second.exceptAll(first).isEmpty(), name
