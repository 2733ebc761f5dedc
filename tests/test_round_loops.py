"""Round budgets of the iterative operators, all run by
``gomrjob_spark.cache.iterate``: each loop runs at two round counts on a
tiny input, and the extra round must cost at most a fixed number of
Spark jobs while the returned frame's analyzed plan stays the same size
(the checkpoint between rounds keeps round k from re-nesting rounds
1..k-1). Loops whose rounds run an action also hold no more cached
rounds after the extra one: each dead round is released in the loop."""

from __future__ import annotations

import pytest

from gomrjob_spark.cache import release_scoped
from gomrjob_spark.operators import dedup, graph, similarity, text

_TEXTS = [
    "the cat sat on the mat with the hat",
    "the cat ate the rat on the mat",
    "a cat and a hat sat at the mat",
    "the bat sat on the hat",
    "that cat is the fattest cat",
    "mat hat cat bat rat sat that",
]


def _docs(spark):
    return spark.createDataFrame(list(enumerate(_TEXTS)), "doc_id bigint, text string")


def _vectors(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(4)]) for i in range(24)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _cc(spark, k):
    """Distributed loop (broadcast threshold -1): the chain's length sets
    the round count, read back from ``stats`` — a 2-edge chain takes 2
    rounds (the second confirms the fixpoint), a 3-edge chain 3."""
    n = k + 1
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint")
    nodes = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id bigint")
    stats = {}
    out = dedup.connected_components(edges, nodes, stats=stats)
    return out, stats["rounds"]


def _pagerank(spark, rounds):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 2)], "src bigint, dst bigint"
    )
    return graph.pagerank_fixedpoint(edges, n_iters=rounds), rounds


def _perceptron(spark, rounds):
    return text.quality_perceptron_train(_docs(spark), n_rounds=rounds), rounds


def _bpe(spark, rounds):
    return text.bpe_train_merges(_docs(spark), n_merges=rounds), rounds


def _unigram(spark, rounds):
    return text.unigram_lm_train(_docs(spark), n_rounds=rounds, seed_min=2, prune_min=2), rounds


def _wordpiece(spark, rounds):
    return text.wordpiece_train(_docs(spark), n_merges=rounds), rounds


def _ivf_kmeans(spark, rounds):
    corpus = _vectors(spark)
    seeds = similarity.kmeans_seeds_md5(corpus, 3)
    return similarity.ivf_centroids_kmeans(corpus, 3, n_iters=rounds, seeds=seeds), rounds


def _fine_kmeans(spark, rounds):
    from pyspark.sql import functions as F

    staged = _vectors(spark).select(
        "vec_id",
        "embedding",
        similarity.l2_norm(F.col("embedding")).alias("_nv"),
        (F.col("vec_id") % 2 + 1).cast("int").alias("ccell"),
    )
    return similarity.fine_centroids_kmeans(staged, 2, n_iters=rounds), rounds


# loop -> (its call, Spark jobs one more round costs, whether its rounds
# run an action), the job counts as measured on the session fixture (8
# cores, 8 shuffle partitions). In a pytest run adaptive execution now
# and then runs one job more in a call (seen for wordpiece_train), so
# the check allows one job of slack.
_LOOPS = {
    "connected_components": (_cc, 8, True),
    "pagerank_fixedpoint": (_pagerank, 4, False),
    "quality_perceptron_train": (_perceptron, 3, False),
    "bpe_train_merges": (_bpe, 2, True),
    "unigram_lm_train": (_unigram, 5, False),
    "wordpiece_train": (_wordpiece, 4, True),
    "ivf_centroids_kmeans": (_ivf_kmeans, 3, False),
    "fine_centroids_kmeans": (_fine_kmeans, 3, False),
}


def _run(spark, build, k):
    """(Spark jobs to build and collect, rounds run, analyzed-plan lines,
    cached RDDs the call left behind)."""
    sc = spark.sparkContext
    group = f"round_budget_{build.__name__}_{k}"
    before = set(sc._jsc.getPersistentRDDs().keySet())
    sc.setJobGroup(group, group)
    try:
        out, ran = build(spark, k)
        out.collect()
    finally:
        sc._jsc.clearJobGroup()
    plan_lines = len(out._jdf.queryExecution().analyzed().treeString().splitlines())
    held = len(set(sc._jsc.getPersistentRDDs().keySet()) - before)
    release_scoped()
    return len(sc.statusTracker().getJobIdsForGroup(group)), ran, plan_lines, held


@pytest.mark.parametrize("loop", sorted(_LOOPS))
def test_round_budget(spark, broadcast_threshold, loop):
    build, per_round, acts = _LOOPS[loop]
    broadcast_threshold("-1" if loop == "connected_components" else None)
    jobs1, r1, plan1, held1 = _run(spark, build, 1)
    jobs2, r2, plan2, held2 = _run(spark, build, 2)
    assert r2 == r1 + 1
    assert jobs2 - jobs1 <= per_round + 1, f"{jobs2 - jobs1} jobs for one more round"
    assert plan2 == plan1, f"plan grew from {plan1} to {plan2} lines"
    if acts:
        assert held2 <= held1, f"{held2} cached RDDs after one more round, {held1} before"


def test_cluster_survivors_job_budget(spark, sf_dir):
    """Spark-job budget of one ``dedup_cluster_survivors`` call at the
    smoke scale, construction and collect together, against the file
    scan (a cached documents frame would plan differently): 11 jobs
    measured with the table schema memoized, 12 when this call infers
    it. The pair stage is 5 (the spread and shingle exchanges, the pair
    and sizes aggregates, the sizes broadcast), connected components 2
    (the fingerprint's noop write and the edge collect), the caller's
    sorted collect 4."""
    from gomrjob_spark.plans import QUERIES

    sc = spark.sparkContext
    group = "test_cluster_survivors_job_budget"
    sc.setJobGroup(group, group)
    try:
        QUERIES["dedup_cluster_survivors"](spark, sf_dir).collect()
    finally:
        sc._jsc.clearJobGroup()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 14, f"{n_jobs} Spark jobs"
