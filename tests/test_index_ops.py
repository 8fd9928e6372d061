"""Index mutation + filtered/range query surface: delete, upsert,
metadata-predicate and id-set filtering, radius search. The exhaustive
invariant throughout: with every cluster probed and everything reranked,
the quantized pipeline must reproduce brute force exactly over whatever
the post-mutation / post-filter base is."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rabitq_spark.config import RaBitQConfig
from rabitq_spark.index import (
    build_index,
    delete_from_index,
    range_search,
    search,
    upsert_into_index,
)
from rabitq_spark.operators.knn import knn_exact

K = 5
NQ = 6


@pytest.fixture(scope="module")
def attr_model(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "label"
    )
    cfg = RaBitQConfig(n_clusters=8, nprobe=4, topk=K, overfetch=8)
    model = build_index(base, cfg, attr_cols=["label"])
    model.index_df = model.index_df.cache()
    queries = emb.filter(f"vec_id < {NQ}").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return model, emb, queries


def _exhaustive(model, queries, **kw):
    return search(
        model, queries, topk=K, nprobe=model.n_clusters, overfetch=10**6, **kw
    )


def _sorted(df):
    return df.toPandas().sort_values(["query_id", "rank"], ignore_index=True)


def test_index_predicate_equals_bruteforce_on_filtered_base(spark, attr_model):
    model, emb, queries = attr_model
    got = _sorted(_exhaustive(model, queries, index_predicate=F.col("label") < 4))
    base = emb.filter("label < 4").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    want = _sorted(knn_exact(queries, base, K))
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    labels = {r["label"] for r in
              emb.join(got_ids(spark, got), emb.vec_id == F.col("nid")).collect()}
    assert labels <= {0, 1, 2, 3}


def got_ids(spark, pdf):
    return spark.createDataFrame(
        [(int(i),) for i in pdf["neighbor_id"].unique()], "nid long"
    )


def test_allowed_id_set_equals_bruteforce_on_subset(spark, attr_model):
    model, emb, queries = attr_model
    allowed = emb.filter("vec_id % 3 = 0").select("vec_id")
    got = _sorted(_exhaustive(model, queries, allowed=allowed))
    base = emb.filter("vec_id % 3 = 0").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    want = _sorted(knn_exact(queries, base, K))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_delete_then_search_never_returns_victims(spark, attr_model):
    model, emb, queries = attr_model
    victims = emb.filter("vec_id % 5 = 0").select("vec_id")
    m2 = delete_from_index(model, victims)
    got = _sorted(_exhaustive(m2, queries))
    assert all(i % 5 != 0 for i in got["neighbor_id"])
    base = emb.filter("vec_id % 5 <> 0").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    want = _sorted(knn_exact(queries, base, K))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_upsert_replaces_and_finds_new_vectors(spark, attr_model):
    model, emb, queries = attr_model
    # replace vec 0 with an exact copy of vec 1's embedding: searching with
    # vec 1's embedding must now return BOTH ids at distance 0
    v1 = emb.filter("vec_id = 1").select("embedding")
    replacement = v1.select(
        F.lit(0).cast("long").alias("id"), F.col("embedding").alias("vec")
    )
    m2 = upsert_into_index(model, replacement)
    q = v1.select(F.lit(99).cast("long").alias("query_id"),
                  F.col("embedding").alias("qvec"))
    got = _exhaustive(m2, q).toPandas().sort_values("rank", ignore_index=True)
    top2 = set(got.loc[got["dist"] == 0.0, "neighbor_id"])
    assert top2 == {0, 1}
    # index size unchanged (replace, not insert)
    assert m2.index_df.count() == model.index_df.count()


def test_range_search_exhaustive_equals_bruteforce_range(spark, attr_model):
    model, emb, queries = attr_model
    r = 1.6
    got = (
        range_search(model, queries, radius_sq=r,
                     nprobe=model.n_clusters, rough_cutoff=False)
        .toPandas().sort_values(["query_id", "neighbor_id"], ignore_index=True)
    )
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    want = (
        knn_exact(queries, base, 10**6)
        .filter(F.col("dist") <= r)
        .select("query_id", "neighbor_id", "dist")
        .toPandas().sort_values(["query_id", "neighbor_id"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert (got["dist"] <= r).all()


def test_range_search_rough_cutoff_high_recall(spark, attr_model):
    # production path: estimator screen at the radius; the lower-bound
    # property should keep nearly every true in-range pair
    model, emb, queries = attr_model
    r = 1.6
    exact = range_search(
        model, queries, radius_sq=r, nprobe=model.n_clusters, rough_cutoff=False
    ).toPandas()
    screened = range_search(
        model, queries, radius_sq=r, nprobe=model.n_clusters, rough_cutoff=True
    ).toPandas()
    keys = lambda d: set(zip(d["query_id"], d["neighbor_id"]))
    inter = keys(screened) & keys(exact)
    assert len(inter) >= 0.9 * len(keys(exact))
    # screened is a subset filter on the same exact rerank: no false positives
    assert keys(screened) <= keys(exact)


def test_filtered_search_pushes_predicate_to_scan(spark, attr_model, tmp_path):
    # cold (saved) attr model: the label predicate must reach the Parquet
    # scan as a pushed filter — the zero-join scale path for filtered search
    model, emb, queries = attr_model
    path = str(tmp_path / "attr_model")
    model.save(path)
    from rabitq_spark.index import RaBitQModel

    cold = RaBitQModel.load(spark, path)
    df = _exhaustive(cold, queries, index_predicate=F.col("label") < 4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThan(label,4)" in plan, plan[:4000]


def test_compact_after_delete_equals_bruteforce_and_resizes(spark, attr_model):
    """compact_index re-trains centroids and requantizes every surviving
    row; with exhaustive settings the compacted index must reproduce brute
    force over the survivors, the coarse index must take the requested
    size, and carried attribute columns must survive the rebuild."""
    from rabitq_spark.index import compact_index

    model, emb, queries = attr_model
    victims = emb.filter("vec_id % 3 = 0").select("vec_id")
    trimmed = delete_from_index(model, victims)
    n_left = emb.count() - victims.count()
    compacted = compact_index(trimmed, n_clusters=5, n_rows=n_left)
    assert compacted.n_clusters == 5
    assert compacted.dim == model.dim and compacted.dim_pad == model.dim_pad
    assert "label" in compacted.index_df.columns
    got = _sorted(_exhaustive(compacted, queries))
    survivors = emb.filter("vec_id % 3 <> 0").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    want = _sorted(knn_exact(queries, survivors, K))
    pd.testing.assert_frame_equal(
        got[["query_id", "neighbor_id", "rank"]],
        want[["query_id", "neighbor_id", "rank"]],
        check_dtype=False,
    )


def test_compact_recovers_recall_after_drifted_append(spark):
    """The motivating scenario: bootstrap on one region of the space,
    append a strongly drifted batch under the frozen transform, and watch
    default-nprobe recall on the drifted queries decay; compaction
    (centroids re-trained on the full current base) must recover it."""
    import numpy as np

    from rabitq_spark.index import append_to_index, compact_index

    rng = np.random.default_rng(7)
    d, n_old, n_new = 32, 600, 600
    old = rng.standard_normal((n_old, d)) + 4.0      # original region
    new = rng.standard_normal((n_new, d)) - 4.0      # drifted region
    mk = lambda mat, base_id: [
        (base_id + i, [float(x) for x in row]) for i, row in enumerate(mat)
    ]
    old_df = spark.createDataFrame(mk(old, 0), "id bigint, vec array<float>")
    new_df = spark.createDataFrame(mk(new, n_old), "id bigint, vec array<float>")
    cfg = RaBitQConfig(n_clusters=12, nprobe=4, topk=K, overfetch=6)
    model = build_index(old_df, cfg, n_rows=n_old)
    appended = append_to_index(model, new_df)
    queries = spark.createDataFrame(
        mk(new[:10], 10_000), "query_id bigint, qvec array<float>"
    )
    full = old_df.unionByName(new_df)
    truth = knn_exact(queries, full, K).toPandas()

    def recall(m):
        got = search(m, queries, topk=K).toPandas()
        j = got.merge(truth, on=["query_id", "neighbor_id"])
        return len(j) / len(truth)

    r_stale = recall(appended)
    compacted = compact_index(appended, n_rows=n_old + n_new)
    r_comp = recall(compacted)
    # all 12 stale centroids sit in the old region, so the drifted queries
    # race 1200 rows through 4 probes of a one-sided coarse index
    assert r_comp >= r_stale
    assert r_comp >= 0.9


def test_writes_evaluate_their_input_once(spark, attr_model):
    """An upsert batch and a delete id set are read when the write is
    called and never again: searching the returned model must not
    re-evaluate either input. A Python UDF counts every row it sees."""
    model, emb, queries = attr_model
    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(i):
        seen.add(1)
        return i

    batch = emb.filter("vec_id < 20").select(
        counted("vec_id").alias("id"), F.reverse("embedding").alias("vec")
    )
    m2 = upsert_into_index(model, batch)
    assert seen.value == 20  # read exactly once, by the write itself
    m3 = delete_from_index(m2, emb.filter("vec_id % 9 = 0").select(
        counted("vec_id").alias("vec_id")
    ))
    after_writes = seen.value
    assert after_writes > 20
    for _ in range(3):
        _exhaustive(m3, queries).collect()
    assert seen.value == after_writes


def test_upsert_rounds_then_delete_equal_bruteforce(spark, attr_model):
    """Three upsert rounds, each replacing ids (some of them rows an
    earlier round wrote) and adding new ones, then one delete across base
    and upserted rows: exhaustive search must equal brute force over the
    final base, bit for bit."""
    import numpy as np

    model, emb, _ = attr_model
    rng = np.random.default_rng(3)
    dim = model.dim
    truth = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.select("vec_id", "embedding").collect()
    }
    schema = "id bigint, vec array<float>"
    m = model
    for rnd in range(3):
        replace = [i for i in truth if i % 11 == rnd][:15]
        add = [1000 + 100 * rnd + j for j in range(10)]
        rows = [
            (i, [float(x) for x in rng.standard_normal(dim).astype(np.float32)])
            for i in replace + add
        ]
        m = upsert_into_index(m, spark.createDataFrame(rows, schema))
        truth.update(dict(rows))
    victims = [i for i in truth if i % 13 == 0 or i in (1001, 1105, 1209)]
    m = delete_from_index(m, spark.createDataFrame([(i,) for i in victims], "id bigint"))
    for i in victims:
        del truth[i]
    final = spark.createDataFrame(sorted(truth.items()), schema)
    queries = final.filter("id % 37 = 1 OR id >= 1000").select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    got = _sorted(_exhaustive(m, queries))
    want = _sorted(knn_exact(queries, final, K))
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert m.index_df.count() == m.base_df.count() == len(truth)
