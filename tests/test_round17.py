"""Round-14 (second optimization round) pins: fused CC rounds, the
reliable-checkpoint cut, the IVF metadata bytes gate, fused pagerank
iteration, and caller-cache preservation."""

import os

import pytest
from pyspark.sql import functions as F

from adtl_spark.session import RELIABLE_CKPT_CONF, CheckpointDirNotSetError, cut


def test_cluster_pairs_fused_rounds_min_label(spark):
    """The fused round (self-loop adoption + stale-parent jump) must
    still converge to node -> min id of its component: a chain (needing
    several doubling rounds), a clique, a self-pair and an isolated
    pair, mixed."""
    from adtl_spark.operators.dedup import cluster_pairs

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5-6-7, clique {10,11,12}, self-pair (20,20),
        # plain pair (30,31)
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
         (10, 11), (11, 12), (10, 12), (20, 20), (31, 30)],
        "id_a long, id_b long",
    )
    got = {
        (r["doc_id"], r["canonical_id"])
        for r in cluster_pairs(pairs).collect()
    }
    want = {(n, 1) for n in range(1, 8)} | {
        (10, 10), (11, 10), (12, 10), (20, 20), (30, 30), (31, 30),
    }
    assert got == want


def test_cut_reliable_checkpoint_path(spark, tmp_path):
    """session.cut switches to reliable checkpoint() under the conf:
    files land in the checkpoint dir and the cut result is intact.
    Default (conf unset) stays executor-local: no files."""
    ckpt_dir = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt_dir)
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    try:
        spark.conf.set(RELIABLE_CKPT_CONF, "true")
        out = cut(df)
        assert out.count() == 100
        assert sum(len(fs) for _, _, fs in os.walk(ckpt_dir)) > 0
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)
    # default path: localCheckpoint, nothing new written
    before = sum(len(fs) for _, _, fs in os.walk(ckpt_dir))
    out2 = cut(df)
    assert out2.count() == 100
    assert sum(len(fs) for _, _, fs in os.walk(ckpt_dir)) == before


def test_cut_reliable_without_checkpoint_dir_names_the_fix(spark, monkeypatch):
    """Reliable mode with no checkpoint dir fails with a named error that
    says which conf is on and how to give it a directory; the default
    mode still cuts locally without one."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "getCheckpointDir", lambda self: None)
    df = spark.range(10)
    try:
        spark.conf.set(RELIABLE_CKPT_CONF, "true")
        with pytest.raises(CheckpointDirNotSetError) as err:
            cut(df)
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)
    assert RELIABLE_CKPT_CONF in str(err.value)
    assert "setCheckpointDir" in str(err.value)
    assert cut(df).count() == 10


def test_cluster_pairs_reliable_cut_same_output(spark, tmp_path):
    """The CC loop under spark.adtl.reliableCheckpoint produces the
    identical labeling (the VERDICT-mandated reliable-path exercise of
    an iterative loop)."""
    from adtl_spark.operators.dedup import cluster_pairs

    spark.sparkContext.setCheckpointDir(str(tmp_path / "cc"))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)] + [(100, 101)],
        "id_a long, id_b long",
    )
    base = sorted(map(tuple, cluster_pairs(pairs).collect()))
    try:
        spark.conf.set(RELIABLE_CKPT_CONF, "true")
        rel = sorted(map(tuple, cluster_pairs(pairs).collect()))
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)
    assert base == rel


def test_ivf_bytes_gate_skips_count_probe(spark):
    """Above the BYTES gate the Arrow branch is chosen from plan
    metadata alone: with the row gate set so high that a count() probe
    would certainly pick the expression branch, a parquet-backed
    relation (known sizeInBytes) over a tiny bytes threshold must still
    plan MapInPandas — proof the count never ran."""
    from adtl_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rel = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv")
    )
    cents = S._centroid_literals(emb, 4, "vec_id", "embedding")
    try:
        spark.conf.set(S.ARROW_ASSIGN_BYTES_CONF, "1")
        spark.conf.set(S.ARROW_ASSIGN_ROWS_CONF, str(10**12))
        out = S._ivf_cell_assign(rel, cents)
        assert "MapInPandas" in out._jdf.queryExecution().toString()
    finally:
        spark.conf.unset(S.ARROW_ASSIGN_BYTES_CONF)
        spark.conf.unset(S.ARROW_ASSIGN_ROWS_CONF)


def test_ivf_assign_degenerate_inputs_agree(spark):
    """Null, NaN, Inf and all-NaN vectors get the same cell in both gate
    branches (ADVICE r13: dtype/NaN parity), for float AND double
    element types."""
    from adtl_spark.operators import similarity as S

    cents = [(0, [1.0, 0.0], 1.0), (3, [0.0, 1.0], 1.0)]
    rows = [
        (1, [0.5, 0.5]),
        (2, None),
        (3, [float("nan"), 1.0]),
        (4, [float("inf"), 0.0]),
        (5, [float("nan"), float("nan")]),
        (6, [0.1, 0.9]),
    ]
    for typ in ("float", "double"):
        df = spark.createDataFrame(rows, f"id long, cv array<{typ}>")
        try:
            # force expression branch
            spark.conf.set(S.ARROW_ASSIGN_ROWS_CONF, str(10**12))
            expr_out = {
                (r["id"], r["cell"])
                for r in S._ivf_cell_assign(df, cents).collect()
            }
            # force Arrow branch (bytes gate 0 short-circuits the count)
            spark.conf.set(S.ARROW_ASSIGN_BYTES_CONF, "0")
            arrow_out = {
                (r["id"], r["cell"])
                for r in S._ivf_cell_assign(df, cents).collect()
            }
        finally:
            spark.conf.unset(S.ARROW_ASSIGN_ROWS_CONF)
            spark.conf.unset(S.ARROW_ASSIGN_BYTES_CONF)
        assert expr_out == arrow_out, typ


def test_pagerank_keeps_caller_cache(spark):
    """pagerank must not evict caller-owned caches (ADVICE r13):
    a pre-persisted vertices/edges input stays persisted afterwards."""
    from adtl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (2, 3, 2), (3, 2, 2)],
        "src long, dst long, w long",
    ).persist()
    vertices = spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], "v long"
    ).persist()
    try:
        edges.count(), vertices.count()
        out = pagerank(edges, vertices, iters=2)
        assert out.count() == 4
        assert vertices.storageLevel.useMemory
        assert edges.storageLevel.useMemory
    finally:
        edges.unpersist()
        vertices.unpersist()


def test_pagerank_isolated_vertex_gets_base_rank(spark):
    """The zero-weight self-loop fusion must keep isolated vertices at
    the base rank (1-d), and edges to non-vertices must stay ignored
    (the old left join's implicit closure, now an up-front semi-join)."""
    from adtl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (1, 99, 5), (99, 1, 5)],
        "src long, dst long, w long",
    )
    vertices = spark.createDataFrame([(1,), (2,), (7,)], "v long")
    rows = {r["v"]: r["pagerank"] for r in pagerank(edges, vertices, 2).collect()}
    assert set(rows) == {1, 2, 7}
    assert rows[7] == pytest.approx(0.15)
