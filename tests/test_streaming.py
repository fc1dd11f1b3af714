"""Incremental ER stream: each batch body equals its batch counterpart.

The reference is batch-only (SURVEY.md §2.10); the streaming analog must be
*semantics-preserving*: the incremental dedup over page drops yields the
batch band-bucket join, and draining the ER stream yields the batch
pipeline's connected components.
"""

import pytest
from pyspark.sql import functions as F

from berkeley_entity_spark.config import SynthConfig
from berkeley_entity_spark.operators.blocking import minhash_band_keys
from berkeley_entity_spark.operators.dedup import shingles_col
from berkeley_entity_spark.streaming.ingest import _dedup_batch
from berkeley_entity_spark.synth import generate_webpages


def _batch_buckets(docs):
    """(doc_id, bucket) with the stream's default bands=4, rows=2, n=3."""
    return minhash_band_keys(docs, ["doc_id"], shingles_col(3), 4, 2)


def _drain_dedup(drops, state, pairs, max_bucket=200):
    """Run the stream's dedup batch body over each drop in order, with the
    drop's index as its batch id."""
    for batch_id, drop in enumerate(drops):
        _dedup_batch(
            drop, batch_id, state_dir=state, pairs_dir=pairs, max_bucket=max_bucket
        )


@pytest.fixture(scope="module")
def pages(spark):
    pages, _ = generate_webpages(spark, SynthConfig(n_pages=120, n_entities=20))
    return pages.cache()


def test_incremental_dedup_equals_batch_bucket_join(spark, pages, tmp_path):
    """VERDICT r3 item 8: the incremental MinHash-LSH dedup over two page
    drops yields EXACTLY the batch band-bucket join pair set on the same
    corpus — with no full-corpus signature recompute (per batch: new-doc
    signatures + one equi-join against the accumulated state)."""
    # drop 1: half the corpus.  drop 2: the other half PLUS exact copies of
    # drop-1 pages under new urls — cross-batch pairs — and a second copy
    # of some of them — within-batch pairs.
    d1 = pages.where("pmod(xxhash64(url), 2) = 0")
    d2 = pages.where("pmod(xxhash64(url), 2) = 1")
    dup1 = d1.where("pmod(xxhash64(url), 3) = 0").withColumn(
        "url", F.concat(F.col("url"), F.lit("#dup"))
    )
    dup2 = d1.where("pmod(xxhash64(url), 7) = 0").withColumn(
        "url", F.concat(F.col("url"), F.lit("#dup2"))
    )
    drops = [d1, d2.unionByName(dup1).unionByName(dup2)]
    state = str(tmp_path / "state")
    pairs = str(tmp_path / "pairs")
    _drain_dedup(drops, state, pairs)

    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs).distinct().collect()
    }
    all_pages = drops[0].unionByName(drops[1])
    b = _batch_buckets(all_pages.select(F.col("url").alias("doc_id"), "text"))
    a = b.toDF("id_a", "bucket")
    want = {
        (r["id_a"], r["id_b"])
        for r in a.join(b.toDF("id_b", "bucket"), "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    assert got == want and len(want) > 0
    # state accumulated incrementally: exactly one bucket row per (doc, band)
    st = spark.read.parquet(state)
    assert st.count() == b.count()
    # replaying the last batch (at-least-once foreachBatch) overwrites its
    # own partitions: no duplicate pairs, no state growth
    _dedup_batch(drops[1], 1, state_dir=state, pairs_dir=pairs, max_bucket=200)
    assert spark.read.parquet(pairs).count() == len(
        spark.read.parquet(pairs).distinct().collect()
    )
    assert spark.read.parquet(state).count() == b.count()


def test_incremental_dedup_hot_bucket_cap_and_idempotent_sink(spark, tmp_path):
    """The streaming path must keep the batch operator's hot-bucket bound
    (VERDICT r3 item 2's sibling): a 300-doc identical-text class arriving
    in two drops leaves <= max_bucket state rows per bucket and pair
    volume O(max_bucket * class), not O(class^2); and the batch_id-
    partitioned dynamic-overwrite sink means replaying both batch ids
    leaves pair/state contents IDENTICAL, not duplicated."""
    base = "terms of service boilerplate applies to every page here"
    drops = [
        _as_pages(spark, [(f"{p}{i:04d}", base) for i in range(150)])
        for p in ("u", "v")
    ]
    state = str(tmp_path / "hs")
    pairs = str(tmp_path / "hp")
    cap = 20
    _drain_dedup(drops, state, pairs, max_bucket=cap)
    st = spark.read.parquet(state)
    per_bucket = st.groupBy("bucket").count().agg(F.max("count")).collect()[0][0]
    assert per_bucket <= cap
    n_pairs = spark.read.parquet(pairs).count()
    # 300 identical docs, 4 bands: uncapped would be ~C(300,2)=44850 pairs
    assert 0 < n_pairs < 4 * cap * 300
    pair_set = {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs).collect()
    }
    state_set = {
        (r["doc_id"], r["bucket"]) for r in spark.read.parquet(state).collect()
    }
    # forced full replay: batch ids restart at 0 and the dynamic partition
    # overwrite must reproduce identical contents
    _drain_dedup(drops, state, pairs, max_bucket=cap)
    assert {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs).collect()
    } == pair_set
    assert {
        (r["doc_id"], r["bucket"]) for r in spark.read.parquet(state).collect()
    } == state_set


def test_unreadable_state_dir_raises(spark, tmp_path):
    """Only a missing or footer-less parquet dir reads as "no state yet";
    any other read failure (here: a state dir holding a non-parquet file)
    must fail the batch, not silently drop its cross-state pairs."""
    from berkeley_entity_spark.streaming.ingest import _read_parquet_or_none

    assert _read_parquet_or_none(spark, str(tmp_path / "missing")) is None
    (tmp_path / "empty").mkdir()
    assert _read_parquet_or_none(spark, str(tmp_path / "empty")) is None
    state = tmp_path / "state"
    state.mkdir()
    (state / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception):
        _read_parquet_or_none(spark, str(state))
    batch = _as_pages(spark, [("u1", "one two three four"), ("u2", "one two three four")])
    pairs = tmp_path / "pairs"
    with pytest.raises(Exception):
        _dedup_batch(
            batch, 0, state_dir=str(state), pairs_dir=str(pairs), max_bucket=200,
        )
    assert not pairs.exists()


def _as_pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string").selectExpr(
        "url", "CAST(NULL AS timestamp) AS warc_ts",
        "CAST(NULL AS binary) AS html", "text", "'en' AS lang",
    )


def test_incremental_er_equals_batch_cc(spark, tmp_path):
    """Incremental entity resolution: draining batches through
    start_incremental_er_stream yields EXACTLY the batch pipeline's
    clusters (bucket-join pairs -> connected components) — including a
    cross-batch merge of two clusters that existed in earlier snapshots.

    The merge scenario is deterministic for this fixed data: T2 differs
    from T1 only in the final token, so they share every shingle except
    one and collide on at least one LSH band; T1's cluster forms in batch
    1, T2's in batch 2, and the T1/T2 band collision must MERGE them —
    exercising the touched-cluster recompute path, while the batch-3 drop
    extends an existing cluster (affected-edges path) and adds fresh
    within-batch clusters (no-prev path ran in batch 1)."""
    from berkeley_entity_spark.operators.clustering import connected_components
    from berkeley_entity_spark.streaming.ingest import (
        start_incremental_er_stream,
    )

    t1 = "quantum harbor lighthouse meridian obelisk paradox quarry riverbed sandstone timber"
    t2 = "quantum harbor lighthouse meridian obelisk paradox quarry riverbed sandstone granite"
    t3 = "completely different words entirely unrelated content spanning another topic altogether"
    root = str(tmp_path / "er_pages")
    drops = [
        [("a1", t1), ("a2", t1), ("c1", t3)],
        [("b1", t2), ("b2", t2), ("c2", t3)],
        [("a3", t1), ("d1", "lone unpaired page with unique text"), ],
    ]
    for rows in drops:
        _as_pages(spark, rows).write.mode("append").parquet(root)
    all_rows = [r for d in drops for r in d]

    state = str(tmp_path / "er_state")
    pairs = str(tmp_path / "er_pairs")
    assign = str(tmp_path / "er_assign")
    ckpt = str(tmp_path / "er_ckpt")
    q = start_incremental_er_stream(spark, root, state, pairs, assign, ckpt)
    q.awaitTermination(300)

    snaps = spark.read.parquet(assign)
    last = snaps.agg(F.max("batch_id")).collect()[0][0]
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in snaps.where(F.col("batch_id") == last).collect()
    }

    docs = _as_pages(spark, all_rows).select(F.col("url").alias("doc_id"), "text")
    b = _batch_buckets(docs)
    a = b.toDF("id_a", "bucket")
    batch_pairs = (
        a.join(b.toDF("id_b", "bucket"), "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(F.xxhash64("id_a").alias("u"), F.xxhash64("id_b").alias("v"))
        .distinct()
    )
    want = {
        (r["node_id"], r["component"])
        for r in connected_components(batch_pairs).collect()
    }
    assert got == want and len(got) > 0

    # the T1 cluster (batch 1) and T2 cluster (batch 2) really merged
    hashes = {
        r["url"]: r["h"]
        for r in _as_pages(spark, all_rows)
        .select("url", F.xxhash64("url").alias("h"))
        .collect()
    }
    cluster_of = dict(got)
    t_ids = [hashes[u] for u in ("a1", "a2", "a3", "b1", "b2")]
    assert len({cluster_of[h] for h in t_ids}) == 1, (
        "T1/T2 band collision did not merge the clusters — adjust tokens"
    )
    # the unrelated-text cluster stayed separate; the singleton stayed out
    assert cluster_of[hashes["c1"]] == cluster_of[hashes["c2"]]
    assert cluster_of[hashes["c1"]] != cluster_of[hashes["a1"]]
    assert hashes["d1"] not in cluster_of


def test_incremental_er_stream_leaves_session_conf(spark, tmp_path):
    """The ER stream's batch_id-partitioned sinks overwrite dynamically per
    write: a second drain keeps the first drain's partitions, and so does a
    third batch whose bodies run directly on the caller's session (a stream
    runs each batch on a cloned session, so only a direct call can show a
    session-wide conf change).  The session's partitionOverwriteMode is the
    same afterwards."""
    from berkeley_entity_spark.streaming.ingest import (
        _dedup_batch,
        _er_merge_batch,
        start_incremental_er_stream,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    root = str(tmp_path / "pages")
    dirs = [str(tmp_path / k) for k in ("state", "pairs", "assign", "ckpt")]
    spark.conf.set(key, "STATIC")
    for rows in ([("a1", text), ("a2", text)], [("b1", text)]):
        _as_pages(spark, rows).write.mode("append").parquet(root)
        q = start_incremental_er_stream(spark, root, *dirs)
        q.awaitTermination(300)
        assert q.exception() is None
    assert spark.conf.get(key) == "STATIC"
    state, pairs, assign = dirs[:3]
    _dedup_batch(
        _as_pages(spark, [("c1", text)]), 2,
        state_dir=state, pairs_dir=pairs, max_bucket=200,
    )
    _er_merge_batch(spark, 2, pairs, assign)
    assert spark.conf.get(key) == "STATIC"
    for d in (state, pairs, assign):
        batches = spark.read.parquet(d).select("batch_id").distinct().collect()
        assert sorted(r[0] for r in batches) == [0, 1, 2], d


def test_streaming_extract_resume_is_incremental(spark, tmp_path):
    """Checkpoint resume of the page stream: after a completed availableNow
    run, a new drop and a restart on the same checkpoint process only the
    new files.  The first run's pair partitions stay as they were, every
    pair the restart adds has a new page at one end, and the resumed
    assignment equals one drain over all drops.  The name is kept from the
    removed extract stream; the resume contract lives on in
    start_incremental_er_stream, the one stream starter."""
    from berkeley_entity_spark.streaming.ingest import (
        start_incremental_er_stream,
    )

    t1 = "quantum harbor lighthouse meridian obelisk paradox quarry riverbed sandstone timber"
    t3 = "completely different words entirely unrelated content spanning another topic altogether"
    root = str(tmp_path / "pages")
    for rows in ([("a1", t1), ("a2", t1)], [("c1", t3), ("c2", t3)]):
        _as_pages(spark, rows).write.mode("append").parquet(root)

    def drain(tag):
        dirs = [str(tmp_path / f"{tag}_{d}") for d in ("state", "pairs", "assign", "ckpt")]
        start_incremental_er_stream(spark, root, *dirs).awaitTermination(300)
        return dirs[1], dirs[2]

    def pair_rows(pairs):
        return {
            (r["batch_id"], r["id_a"], r["id_b"])
            for r in spark.read.parquet(pairs).collect()
        }

    def last_snapshot(assign):
        snaps = spark.read.parquet(assign)
        last = snaps.agg(F.max("batch_id")).collect()[0][0]
        return {
            (r["doc_id"], r["cluster_id"])
            for r in snaps.where(F.col("batch_id") == last).collect()
        }

    pairs, assign = drain("run")
    first = pair_rows(pairs)
    first_last = spark.read.parquet(assign).agg(F.max("batch_id")).collect()[0][0]
    assert first

    new_urls = {"a3", "c3", "d1"}
    _as_pages(
        spark, [("a3", t1), ("c3", t3), ("d1", "lone unpaired page with unique text")]
    ).write.mode("append").parquet(root)
    pairs, assign = drain("run")
    resumed = pair_rows(pairs)
    old = {p for p in resumed if p[0] <= first_last}
    added = resumed - old
    assert old == first
    assert added and all(p[1] in new_urls or p[2] in new_urls for p in added)

    _, fresh_assign = drain("fresh")
    assert last_snapshot(assign) == last_snapshot(fresh_assign)


def _two_drop_stream(spark, drops, tmp_path):
    """Write each of the two page frames in `drops` as one drop of
    _FILES_PER_TRIGGER files (one micro-batch apiece) and drain
    start_incremental_er_stream over them."""
    import os

    from berkeley_entity_spark.streaming import ingest

    root = tmp_path / "pages"
    for i, pages in enumerate(drops):
        # one drop = _FILES_PER_TRIGGER files = one micro-batch; the file
        # source takes files oldest first
        drop = tmp_path / f"drop{i}"
        pages.repartition(ingest._FILES_PER_TRIGGER).write.parquet(str(drop))
        root.mkdir(exist_ok=True)
        for f in drop.glob("*.parquet"):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
            f.rename(root / f"d{i}-{f.name}")
    dirs = [str(tmp_path / k) for k in ("state", "pairs", "assign", "ckpt")]
    q = ingest.start_incremental_er_stream(spark, str(root), *dirs)
    q.awaitTermination(300)
    assert q.exception() is None
    return dirs


def test_incremental_stream_py4j_budget_per_batch(
    spark, pages, tmp_path, py4j_calls, monkeypatch
):
    """Each micro-batch of start_incremental_er_stream (the dedup body and
    the CC merge) makes at most 950 py4j calls: the batch bodies build
    their expressions as SQL text and the session has no per-Column
    call-site capture (session.py).  Before both, the costlier batch here
    made 1,993 calls, and 684 after; a 300-page erbench batch went from
    about 2,300-2,600 to 624-714 (BENCH/driver_roundtrips.md)."""
    from berkeley_entity_spark.streaming import ingest

    calls = {}
    dedup, merge = ingest._dedup_batch, ingest._er_merge_batch

    def counted_dedup(batch_df, batch_id, **kwargs):
        calls[batch_id] = py4j_calls.n
        dedup(batch_df, batch_id, **kwargs)

    def counted_merge(sess, batch_id, *args):
        merge(sess, batch_id, *args)
        calls[batch_id] = py4j_calls.n - calls[batch_id]

    # the stream looks both bodies up by module-global name on every batch
    monkeypatch.setattr(ingest, "_dedup_batch", counted_dedup)
    monkeypatch.setattr(ingest, "_er_merge_batch", counted_merge)
    halves = [pages.where(f"pmod(xxhash64(url), 2) = {h}") for h in (0, 1)]
    _two_drop_stream(spark, halves, tmp_path)
    assert sorted(calls) == [0, 1], calls
    assert max(calls.values()) <= 950, calls


def test_incremental_stream_jobs_per_batch(spark, pages, tmp_path, monkeypatch):
    """A steady micro-batch (one with bucket state and a previous
    snapshot) runs at most 23 Spark jobs over both batch bodies.  The CC
    merge reads the newest snapshot's batch id from the file listing (no
    max() job), checkpoints nothing before its write, keeps untouched rows
    by one anti-join against CC's output, and CC's small path collects
    the raw edges with no Python operator.  Before these, a steady
    300-page erbench batch ran 29 jobs (13 dedup + 16 merge), and 23
    after (BENCH/stream_batch_jobs.md)."""
    from berkeley_entity_spark.streaming import ingest

    sc = spark.sparkContext
    dedup, merge = ingest._dedup_batch, ingest._er_merge_batch

    def grouped_dedup(batch_df, batch_id, **kwargs):
        sc.setLocalProperty("spark.jobGroup.id", f"er-batch-{batch_id}")
        dedup(batch_df, batch_id, **kwargs)

    def grouped_merge(sess, batch_id, *args):
        try:
            merge(sess, batch_id, *args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    # the stream looks both bodies up by module-global name on every batch
    monkeypatch.setattr(ingest, "_dedup_batch", grouped_dedup)
    monkeypatch.setattr(ingest, "_er_merge_batch", grouped_merge)
    # re-crawls make batch 1 steady: batch 0 clusters each page with a
    # copy, and batch 1's copies of the same pages join those clusters
    half = [pages.where(f"pmod(xxhash64(url), 2) = {h}") for h in (0, 1)]

    def copies(tag):
        return half[0].withColumn("url", F.concat("url", F.lit(tag)))

    drops = [
        half[0].unionByName(copies("?dup")),
        half[1].unionByName(copies("?rev")),
    ]
    assign = _two_drop_stream(spark, drops, tmp_path)[2]
    snaps = spark.read.parquet(assign).groupBy("batch_id").count().collect()
    assert sorted(r["batch_id"] for r in snaps) == [0, 1]
    jobs = [
        len(sc.statusTracker().getJobIdsForGroup(f"er-batch-{b}")) for b in (0, 1)
    ]
    assert jobs[0] > 0 and jobs[1] <= 23, jobs


def test_merge_replay_rereads_its_own_previous_snapshot(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the merge of batch 1 while
    snapshot 2 already exists must fold batch 1's pairs into snapshot 0
    again, so snapshot 1 comes out unchanged.  Taking the newest snapshot
    from the whole listing instead would fold snapshot 2's later docs
    into snapshot 1."""
    from berkeley_entity_spark.streaming.ingest import _er_merge_batch

    t1 = "quantum harbor lighthouse meridian obelisk paradox quarry riverbed sandstone timber"
    t2 = "quantum harbor lighthouse meridian obelisk paradox quarry riverbed sandstone granite"
    t3 = "completely different words entirely unrelated content spanning another topic altogether"
    drops = [
        [("a1", t1), ("a2", t1), ("c1", t3)],
        [("b1", t2), ("b2", t2), ("c2", t3)],
        [("a3", t1), ("c3", t3)],
    ]
    state, pairs, assign = (str(tmp_path / k) for k in ("state", "pairs", "assign"))
    for batch_id, rows in enumerate(drops):
        _dedup_batch(
            _as_pages(spark, rows), batch_id,
            state_dir=state, pairs_dir=pairs, max_bucket=200,
        )
        _er_merge_batch(spark, batch_id, pairs, assign)

    def snapshot(b):
        rows = spark.read.parquet(assign).where(f"batch_id = {b}").collect()
        return {(r["doc_id"], r["cluster_id"]) for r in rows}

    before = {b: snapshot(b) for b in (1, 2)}
    assert before[2] - before[1], "batch 2 added no assignment rows"
    _er_merge_batch(spark, 1, pairs, assign)
    assert snapshot(1) == before[1]
    assert snapshot(2) == before[2]
