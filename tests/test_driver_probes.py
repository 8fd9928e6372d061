"""Driver-side probe preparation: a search that reads its probe geometry
before the action, and whose batch fits the driver bounds, runs stages 1-4
on the driver over its query batch, collected once. The probe rows must
equal the mapInPandas route's bit for bit, the query DataFrame must be read
once, a batch past the bounds must take the mapInPandas route with the
same results and no extra job, a small lookup must launch at most one
Spark job before its action, and a search that needs no geometry must
launch none."""

import importlib
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rabitq_spark._blas import can_pin
from rabitq_spark.config import RaBitQConfig
from rabitq_spark.index import build_index

search_mod = importlib.import_module("rabitq_spark.index.search")

NQ = 10
# _prepare_probes' mapInPandas node (the index's own cached quantize
# mapInPandas shows in every search plan too)
PROBE_PREP = re.compile(r"MapInPandas prep\(")

# without a pinnable BLAS the driver route is off by design
needs_pin = pytest.mark.skipif(
    not can_pin(), reason="driver probe route needs a pinnable OpenBLAS"
)


def _sorted_probes(pdf: pd.DataFrame):
    """Probe rows in (query_id, cluster_id) order: the scalar columns as a
    frame, the packed query planes as one int64 matrix."""
    pdf = pdf.sort_values(["query_id", "cluster_id"], ignore_index=True)
    planes = np.vstack(pdf["qplanes"].values).astype(np.int64)
    scalars = pdf.drop(columns="qplanes").astype(
        {"query_id": "int64", "cluster_id": "int32"}
    )
    return scalars, planes


@needs_pin
@pytest.mark.parametrize("bits,dim", [(1, 100), (4, 100), (1, 128), (4, 128)])
def test_driver_probe_frame_equals_mapinpandas(spark, bits, dim):
    """1,200 queries in seven uneven partitions: the driver computes one
    block with every BLAS thread available, each executor batch is about
    170 rows on one thread. Every probe row must match bit for bit, in the
    driver frame and in the DataFrame built from it."""
    rng = np.random.default_rng(dim + bits)
    base = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(rng.standard_normal((600, dim)))],
        "id bigint, vec array<float>",
    )
    model = build_index(
        base, RaBitQConfig(n_clusters=12, nprobe=4, bits_per_dim=bits), dim=dim
    )
    queries = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(rng.standard_normal((1200, dim)))],
        "query_id bigint, qvec array<float>",
    ).repartitionByRange(7, "query_id")

    driver = search_mod._driver_probes(model, queries, "query_id", "qvec", 4)
    assert driver is not None, "1,200 × 4 probe rows must fit the driver bound"
    frame, _ = driver
    exec_scalars, exec_planes = _sorted_probes(
        search_mod._prepare_probes(model, queries, "query_id", "qvec", 4).toPandas()
    )
    assert len(exec_scalars) == 1200 * 4
    for got in (frame, search_mod.probe_dataframe(spark, frame).toPandas()):
        scalars, planes = _sorted_probes(got)
        pd.testing.assert_frame_equal(scalars, exec_scalars, check_exact=True)
        assert np.array_equal(planes, exec_planes)


@pytest.fixture(scope="module")
def model4(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    model = build_index(
        base, RaBitQConfig(n_clusters=8, nprobe=2, topk=5, bits_per_dim=4)
    )
    model.index_df = model.index_df.cache()
    return model, emb


def _lookup(emb):
    return emb.filter(f"vec_id < {NQ}").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def _rows(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["query_id", "rank"], ignore_index=True)


def _call_jobs(spark, group, fn):
    """(fn(), ids of the Spark jobs fn launched), via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "search() call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _parent_route(*args, **kwargs):
    """_driver_probes stand-in that always declines: the mapInPandas route."""
    return None


@needs_pin
def test_search_reads_queries_once(spark, model4):
    """A Python UDF under the query DataFrame counts its evaluations: one
    search() plus its collect must read every query row exactly once (the
    probe table and the rerank's query vectors share one collected
    batch)."""
    model, emb = model4
    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(i):
        seen.add(1)
        return i

    queries = emb.filter(f"vec_id < {NQ}").select(
        counted("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    rows = search_mod.search(model, queries).collect()
    assert len(rows) == NQ * 5
    assert seen.value == NQ


@needs_pin
def test_probe_bound_falls_back_to_mapinpandas(spark, model4, monkeypatch):
    """Past _DRIVER_PROBE_MAX_ROWS the probes come from the mapInPandas job
    and the result frame equals the driver route's, whose plan holds no
    probe mapInPandas and no Python UDF."""
    model, emb = model4
    # the jvm join with partition pruning: the probed cluster set is read
    # before the action, so the driver route applies
    kw = dict(nprobe=2, overfetch=2, impl="jvm")
    driver = search_mod.search(model, _lookup(emb), **kw)
    driver_plan = driver._jdf.queryExecution().executedPlan().toString()
    assert not PROBE_PREP.search(driver_plan)
    assert "EvalPython" not in driver_plan

    prepared = []
    prepare = search_mod._prepare_probes
    monkeypatch.setattr(
        search_mod,
        "_prepare_probes",
        lambda *a, **k: prepared.append(1) or prepare(*a, **k),
    )
    monkeypatch.setattr(search_mod, "_DRIVER_PROBE_MAX_ROWS", NQ * 2 - 1)
    fallback = search_mod.search(model, _lookup(emb), **kw)
    assert prepared == [1]
    pd.testing.assert_frame_equal(_rows(fallback), _rows(driver), check_exact=True)


def test_over_byte_bound_adds_no_job(spark, model4, monkeypatch):
    """A batch whose plan estimate is past _DRIVER_PROBE_MAX_BYTES skips
    the query collect: its search() call launches exactly the jobs of the
    mapInPandas route, with the same results."""
    model, emb = model4
    queries = _lookup(emb)
    queries.count()  # warm the scan outside the measured groups
    with monkeypatch.context() as m:
        m.setattr(search_mod, "_driver_probes", _parent_route)
        parent_df, parent_jobs = _call_jobs(
            spark, "over-bound-parent", lambda: search_mod.search(model, queries)
        )
    estimate = search_mod._plan_bytes(queries.select("query_id", "qvec"))
    monkeypatch.setattr(search_mod, "_DRIVER_PROBE_MAX_BYTES", estimate - 1)
    df, jobs = _call_jobs(
        spark, "over-bound", lambda: search_mod.search(model, queries)
    )
    assert parent_jobs  # the probe checkpoint and per-cluster count
    assert len(jobs) == len(parent_jobs), f"{jobs} vs {parent_jobs}"
    pd.testing.assert_frame_equal(_rows(df), _rows(parent_df), check_exact=True)


def test_high_coverage_search_launches_no_job(spark, model4):
    """nprobe × 2 > n_clusters under auto dispatch: the search needs no
    probe geometry, so it keeps the mapInPandas route and launches no job
    before the action."""
    model, emb = model4
    queries = _lookup(emb)
    df, jobs = _call_jobs(
        spark, "high-coverage",
        lambda: search_mod.search(model, queries, nprobe=model.n_clusters),
    )
    assert jobs == [], f"search() launched jobs {jobs}"
    assert PROBE_PREP.search(df._jdf.queryExecution().executedPlan().toString())
    assert len(df.collect()) == NQ * 5


@needs_pin
def test_small_lookup_launches_one_job_before_action(spark, model4):
    """A 10-query lookup on a 4-bit index, auto dispatch with partition
    pruning: search() may only collect the query batch before the action —
    no probe checkpoint, no per-cluster count collect, no pruning collect."""
    model, emb = model4
    queries = _lookup(emb)
    queries.count()  # warm the scan outside the measured group
    df, jobs = _call_jobs(
        spark, "driver-probes-call", lambda: search_mod.search(model, queries)
    )
    assert len(df.collect()) == NQ * 5
    assert len(jobs) <= 1, f"search() launched {len(jobs)} jobs: {jobs}"
