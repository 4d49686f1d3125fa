"""The two k-NN implementations — JVM fold (oracle-checked) and numpy BLAS
pandas_udf (rows-only) — must return the same neighbors: the float-reordering
ulp drift BLAS introduces may change scores, never the result set here."""

from __future__ import annotations

from hbase_observer_es_spark.operators.similarity import q_sim_knn, q_sim_knn_pudf

from .conftest import SF_ORACLE


def test_numpy_knn_matches_jvm_fold(spark):
    jvm = sorted((r.vec_id, r.label) for r in q_sim_knn(spark, SF_ORACLE).collect())
    np_ = [(r.vec_id, r.label) for r in q_sim_knn_pudf(spark, SF_ORACLE).collect()]
    assert jvm == np_  # pudf output is already vec_id-sorted (oracle contract)


def test_kmeans_trainer_deterministic_and_bounded(spark):
    """train_centroids: at most k cells, full-width centroids, unique cell ids,
    and bit-identical output across runs (no RNG anywhere by construction)."""
    from hbase_observer_es_spark.io import table
    from hbase_observer_es_spark.operators.similarity import (
        EMB_DIM,
        KMEANS_K,
        train_centroids,
    )

    e = table(spark, SF_ORACLE, "embeddings")
    rows = train_centroids(e).collect()
    assert 1 <= len(rows) <= KMEANS_K
    assert all(len(r.centroid) == EMB_DIM for r in rows)
    cells = [r.cell for r in rows]
    assert len(set(cells)) == len(cells)
    rows2 = train_centroids(e).collect()
    assert sorted((r.cell, tuple(r.centroid)) for r in rows) == sorted(
        (r.cell, tuple(r.centroid)) for r in rows2
    )


def test_assemble_means_renests_exactly(spark):
    """r16 optimization: the train loop collects (cell, dim, m) rows and
    re-nests on the driver. _assemble_means must reproduce the old
    array_sort(collect_list(struct(dim, m))) semantics exactly: dim order
    within a cell, independent of collect order."""
    from hbase_observer_es_spark.operators.similarity import _assemble_means

    rows = [
        {"cell": 1, "dim": 2, "m": 0.3},
        {"cell": 0, "dim": 1, "m": -2.5},
        {"cell": 1, "dim": 0, "m": 1.25},
        {"cell": 0, "dim": 0, "m": 7.0},
        {"cell": 1, "dim": 1, "m": 0.5},
    ]
    out = _assemble_means(rows)
    assert out == [(0, [7.0, -2.5]), (1, [1.25, 0.5, 0.3])]
    # shuffled input, same result (collect order is partition-dependent)
    assert _assemble_means(rows[::-1]) == out


def test_trained_ivf_reads_no_label(spark):
    """The trained-IVF path must work on UNLABELED corpora: every parquet scan
    in its physical plan prunes to (vec_id, embedding) — the label column is
    never read."""
    import re

    from hbase_observer_es_spark.operators.similarity import q_sim_ivf_trained
    from .plan_inspect import plan_string

    plan = plan_string(q_sim_ivf_trained(spark, SF_ORACLE))
    scans = [
        m.group(1) for m in re.finditer(r"FileScan parquet [^\[]*\[([^\]]*)\]", plan)
    ]
    assert scans and all("label" not in s for s in scans), scans


def test_pandas_cell_assigner_matches_jvm(spark):
    """r17 optimization: the k-means train loop's assignment runs through the
    vectorized pandas assigner. It must agree with the JVM fold argmax
    (_assign_cells) on every vector — BIT-exact cosines, same
    ties-to-lowest-cell rule — for both centroid dtypes the loop sees:
    float32 seed embeddings (iteration 1) and double means (iteration 2+)."""
    from pyspark.sql import functions as F

    from hbase_observer_es_spark.io import table
    from hbase_observer_es_spark.operators.similarity import (
        KMEANS_K,
        SEED_MOD,
        SEED_MULT,
        _assign_cells,
        _make_cell_assigner,
        train_centroids,
    )

    e = table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")

    # double-mean centroids (what iterations >= 2 assign against)
    cent = train_centroids(e)
    cent_rows = [(r["cell"], [float(x) for x in r["centroid"]]) for r in cent.collect()]
    jvm = {r["vec_id"]: r["cell"] for r in _assign_cells(e, cent).collect()}
    assign = _make_cell_assigner(cent_rows)
    got = {
        r["vec_id"]: r["cell"]
        for r in e.select("vec_id", assign(F.col("embedding")).alias("cell")).collect()
    }
    assert jvm == got

    # float32 seed centroids (what iteration 1 assigns against): the JVM path
    # casts float->double per element inside the fold; the local path widens
    # on collect — both exact, so cells must still agree
    h = (F.col("vec_id") * F.lit(SEED_MULT)) % F.lit(SEED_MOD)
    seed_rows = (
        e.select("vec_id", "embedding", h.alias("h"))
        .orderBy("h", "vec_id")
        .limit(KMEANS_K)
        .collect()
    )
    seed_local = [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(seed_rows)
    ]
    seed_cent = spark.createDataFrame(
        [(i, r["embedding"]) for i, r in enumerate(seed_rows)],
        "cell int, centroid array<float>",
    )
    jvm_seed = {r["vec_id"]: r["cell"] for r in _assign_cells(e, seed_cent).collect()}
    assign_seed = _make_cell_assigner(seed_local)
    got_seed = {
        r["vec_id"]: r["cell"]
        for r in e.select(
            "vec_id", assign_seed(F.col("embedding")).alias("cell")
        ).collect()
    }
    assert jvm_seed == got_seed
