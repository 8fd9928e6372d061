"""Decompose the 10M fastscan search wall: cached-index scan vs Arrow
pipe + kernel vs window + rerank. Runs against the saved 10M model cache.

Usage: PYTHONPATH=. python scripts/decomp10m.py
"""

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rabitq_spark.index.model import RaBitQModel
from rabitq_spark.index.search import (
    _fused_shortlist,
    _prepare_probes,
    auto_overfetch,
    search,
)
from rabitq_spark.index.vecstore import VecStore
from rabitq_spark.session import get_spark

BASE_DIR = "/root/repo/.benchdata/scale10m_256"
MODEL_DIR = "/root/repo/.benchdata/scale10m_256_model_mb4"


def t(label, fn):
    t0 = time.perf_counter()
    r = fn()
    print(json.dumps({label: round(time.perf_counter() - t0, 1)}), flush=True)
    return r


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    spark = get_spark("decomp10m")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet(BASE_DIR)
    model = RaBitQModel.load(spark, MODEL_DIR)
    model.index_df = model.index_df.persist(StorageLevel.DISK_ONLY)
    t("index_count_cold", lambda: model.index_df.count())
    t("index_count_warm", lambda: model.index_df.count())
    model.vec_store = VecStore.open(f"{MODEL_DIR}/vecstore")
    q = (
        base.orderBy("id")
        .limit(1000)
        .select(F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
        .localCheckpoint(eager=True)
    )
    q200 = q.limit(200).localCheckpoint(eager=True)
    r = auto_overfetch(model, 16, 10) * 10
    print(json.dumps({"r": r}), flush=True)
    # warmup whole path once
    search(model, q.limit(10), impl="fastscan", arrow_min_queries_per_cluster=0,
           fastscan_max_lut_bytes=1 << 31).write.format("noop").mode("overwrite").save()

    probes = _prepare_probes(model, q200, "query_id", "qvec", 16)
    t("prepare_probes_200q_collectless", lambda: probes.count())
    local = _fused_shortlist(model, probes.toPandas(), r, 4, kernel="fastscan")
    t("fused_shortlist_200q_noop", lambda: local.write.format("noop").mode("overwrite").save())
    t("search_200q_fastscan", lambda: search(
        model, q200, impl="fastscan", arrow_min_queries_per_cluster=0,
        fastscan_max_lut_bytes=1 << 31).write.format("noop").mode("overwrite").save())
    t("search_1000q_fastscan", lambda: search(
        model, q, impl="fastscan", arrow_min_queries_per_cluster=0,
        fastscan_max_lut_bytes=1 << 31).write.format("noop").mode("overwrite").save())
    t("search_1000q_fastscan_repeat", lambda: search(
        model, q, impl="fastscan", arrow_min_queries_per_cluster=0,
        fastscan_max_lut_bytes=1 << 31).write.format("noop").mode("overwrite").save())
    spark.stop()


if __name__ == "__main__":
    main()
