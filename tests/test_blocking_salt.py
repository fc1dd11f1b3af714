"""Hot-block handling (north-rule head-domain skew).

A synthetic hot block (400 surfaces sharing the L:smith and A:ns block keys)
runs through candidate_pairs.  The one skew path is the row_number cap: each
block key keeps its first MAX_BLOCK surfaces in (norm_name, node_id) order,
so no sorted-neighborhood pair reaches a surface ranked past the cap, and the
pairs do not depend on partitioning.  MinHash buckets still pair much of the
tail; those pairs carry pass = 'lsh'.
"""

import pytest
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.blocking import (
    MAX_BLOCK,
    candidate_pairs,
    distinct_surfaces,
)

N_HOT = 400


@pytest.fixture(scope="module")
def hot_mentions(spark):
    """400 distinct surfaces sharing the L:smith block key + 20 cold ones."""
    first = [f"name{i:03d}" for i in range(N_HOT)]
    rows = [(f"u{i}", f"{f} smith", f, False, i) for i, f in enumerate(first)]
    rows += [
        (f"c{i}", f"cold{i} jones{i}", f"cold{i}", False, 1000 + i)
        for i in range(20)
    ]
    return spark.createDataFrame(
        rows, "url string, norm_name string, head string, is_acr boolean, mention_id long"
    )


def test_capped_blocking_drops_tail(spark, hot_mentions):
    surfaces = distinct_surfaces(hot_mentions).persist()
    pairs = candidate_pairs(surfaces, surfaces.count())
    # every hot surface shares the same keys, so its rank under each of them
    # is its rank in (norm_name, node_id) order among the hot surfaces
    hot = sorted(
        (r["norm_name"], r["node_id"])
        for r in surfaces.where(F.col("norm_name").endswith(" smith")).collect()
    )
    assert len(hot) == N_HOT > MAX_BLOCK
    head = {node for _, node in hot[:MAX_BLOCK]}
    tail = {node for _, node in hot[MAX_BLOCK:]}
    sn = [
        (r["node_a"], r["node_b"])
        for r in pairs.where(F.col("pass") == "sortedneighborhood").collect()
    ]
    past_cap = [p for p in sn if p[0] in tail or p[1] in tail]
    assert not past_cap, f"{len(past_cap)} sorted-neighborhood pairs past the cap"
    # the capped head still pairs through its neighborhood band
    assert any(a in head and b in head for a, b in sn)
    # the cap ranks in a total order, so which rows it keeps (and every
    # pair) does not depend on partitioning
    shuffled = distinct_surfaces(hot_mentions.repartition(13)).persist()
    again = candidate_pairs(shuffled, shuffled.count())
    assert pairs.exceptAll(again).count() == 0 and again.exceptAll(pairs).count() == 0
