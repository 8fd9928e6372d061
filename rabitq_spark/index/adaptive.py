"""Adaptive early-stop probing — the reference's one unbuilt README item
(README.md:20 "early stop", unchecked upstream too), as a batch plan.

The static pipeline (search()) probes a FIXED nprobe nearest clusters per
query. Early stop instead expands probes in WAVES and retires a query as
soon as geometry proves no unprobed cluster can improve its top-k:

    for any x in cluster c:  dist(q, x) >= (max(0, ||q-c|| - r_c))^2

where r_c = max_{x in c} ||x - c|| is the cluster radius (the max
center_dist_sq the index already stores). Once the current kth EXACT
reranked distance tau_q is below that triangle lower bound for every
unprobed cluster, the query is done. Clusters are PROBED in nearest-
centroid (d2) order — the same order static search uses, so a probe cap
covers the same set static would (round-9 fix: the original lower-bound
probe order diverges from quality order when bounds are weak, and a cap
then truncates to the wrong clusters — measured recall 0.63 vs static
0.98 at 10M x 3162 overlapping clusters). Retirement is checked against
the smallest lower bound among UNPROBED clusters (a pointer over the
lb-sorted order), which is sound for any probe order; clusters whose
bound already exceeds tau are skipped without consuming probe budget
(tau is monotone nonincreasing, so both cuts are final).

Exactness: with an exhaustive rerank width (overfetch covering every
probed row — the same configuration the other exhaustive oracle entries
use), the result is PROVABLY bit-identical to brute-force kNN: every
probed candidate is reranked with the same exact fold, and every
unprobed candidate has dist > tau strictly (retirement tests bound >
tau, and floating-point slack is absorbed by `safety`, below). This is a
stronger contract than the static exhaustive configuration, which needs
nprobe = n_clusters; early stop typically proves completeness after
probing a small fraction of clusters.

Scale shape: the driver holds only the query batch (the documented small
side, same contract as knn_exact_fast and the fused shortlist), the
(nq x n_clusters) centroid-distance matrix, per-cluster radii
(n_clusters floats, one tiny agg job, memoized on the model), and the
accumulated top-k (nq x k rows). Each wave is ONE Spark job over the
wave's clusters only — partition-pruned scan, fused Arrow shortlist,
exact rerank — so total index rows touched is exactly the probed set.
Wave sizes double, bounding the number of jobs at O(log n_clusters) per
batch even when a hard query needs wide coverage.

Floating-point soundness: ||q-c|| comes from a float32 GEMM and radii
from float32 build arithmetic, while tau is the rerank's float64 fold on
the ORIGINAL vectors (the orthogonal rotation preserves true distances;
float error does not cancel). `safety` deflates every lower bound
multiplicatively (and subtracts a tiny absolute epsilon) so a bound
inflated by float error cannot retire a query early. Default 1e-3 is
~1000x the observed float32 relative error of the pipeline.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from rabitq_spark.functions.vector import pad_to_multiple
from rabitq_spark.index.model import RaBitQModel
from rabitq_spark.index.rotation import apply_rot
from rabitq_spark.index.search import (
    PROBE_SCHEMA,
    _fused_shortlist,
    auto_overfetch,
    exact_rerank,
    quantize_probe_pairs,
)
from rabitq_spark.operators.topk import topk_per_group
from rabitq_spark._dist import ensure_package_on_executors


def cluster_radii_sq(model: RaBitQModel) -> np.ndarray:
    """(n_clusters,) max center_dist_sq per cluster — one small agg job
    over the index (result is n_clusters rows), memoized on the model.
    Clusters absent from the index (empty posting lists) get radius 0:
    their lower bound is then the full centroid distance, and probing
    them is a no-op either way."""
    # memo keyed on the index plan's identity: the repo's own pattern of
    # reassigning model.index_df in place (bench/tests persist it) must
    # invalidate the radii — stale (undersized) radii would make the
    # triangle bound unsound and silently drop true neighbors. The memo
    # stores the DataFrame OBJECT (not id(): a freed DataFrame's address
    # can be reused by its replacement, falsely matching) — holding the
    # reference pins the object, so `is` identity is stable
    memo = getattr(model, "_radii_sq", None)
    if memo is not None and memo[0] is model.index_df:
        return memo[1]
    rows = (
        model.index_df.groupBy("cluster_id")
        .agg(F.max("center_dist_sq").alias("r2"))
        .collect()
    )
    radii = np.zeros(model.n_clusters, dtype=np.float64)
    for row in rows:
        radii[row["cluster_id"]] = max(float(row["r2"]), 0.0)
    model._radii_sq = (model.index_df, radii)
    return radii


def search_adaptive(
    model: RaBitQModel,
    queries: DataFrame,
    topk: int | None = None,
    overfetch: int | None = None,
    wave0: int = 4,
    wave_growth: float = 2.0,
    max_probes: int | None = None,
    safety: float = 1e-3,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    kernel: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Batch top-k ANN with per-query adaptive probe cutoff; returns
    (query_id, neighbor_id, dist, rank) like search().

    `overfetch` bounds the per-wave rerank width (R = overfetch x topk)
    exactly as in search(); pass a value covering every probed row (e.g.
    10**6) for the provably-brute-exact configuration. `stats`, if a dict
    is passed, receives waves / probed_clusters_total /
    avg_probes_per_query / retired_early / wave_kernels (the scorer each
    wave resolved to, in wave order). `max_probes` caps
    the probed clusters per query (approximate mode — on heavily
    OVERLAPPING clusters the triangle bound is weak, radii span the gaps,
    and an uncapped run degrades toward a full scan; with the cap the
    contract matches static search at nprobe=max_probes except queries
    that retire earlier, which PROVABLY lose nothing). Leave None for the
    exact contract.

    `kernel` picks the per-wave rough scorer: "popcount"/"fastscan" run
    the fused Arrow shortlist; "jvm" runs the codegen join (identical
    results — same estimator, same global top-R trim); "auto" (default)
    picks PER WAVE by the same geometry rule as search() — the codegen
    join below ~12 probing queries per probed cluster (small sequential
    batches, very wide cluster counts), the Arrow kernel above it.

    Reference parity: README.md:20 ("early stop", the one unchecked
    feature the reference never built); the wave loop is the batch
    analogue of a sequential scan breaking out of its posting-list loop.
    """
    spark = queries.sparkSession
    ensure_package_on_executors(spark)
    cfg = model.config
    topk = topk or cfg.topk
    # scale-aware rerank width, same rule as search(): the fixed default
    # degraded recall 0.97 -> 0.90 at the 1M point (measured, round 8)
    r = (overfetch or auto_overfetch(model, cfg.nprobe, topk)) * topk
    cp = model.centroids_proj
    ncl = cp.shape[0]
    scalar = np.float32(cfg.scalar)

    qpd = queries.select(query_id, query_vec).toPandas()
    q_ids = np.asarray(qpd[query_id].values)
    q = np.vstack(qpd[query_vec].values).astype(np.float32)
    nq = q.shape[0]
    if q.shape[1] < model.dim_pad:
        q = np.hstack(
            [q, np.zeros((nq, model.dim_pad - q.shape[1]), np.float32)]
        )
    yp = apply_rot(q, model.rotation).astype(np.float32)
    cp_sq = (cp**2).sum(axis=1)
    d2 = (yp**2).sum(axis=1)[:, None] - 2.0 * (yp @ cp.T) + cp_sq[None, :]
    np.maximum(d2, 0.0, out=d2)

    radii = np.sqrt(cluster_radii_sq(model))  # (ncl,)
    gap = np.sqrt(d2.astype(np.float64)) - radii[None, :]
    np.maximum(gap, 0.0, out=gap)
    # deflated triangle lower bound per (query, cluster): must stay <=
    # the TRUE distance of every member despite float32 pipeline error
    lbound = (gap * gap) * (1.0 - safety) - 1e-9

    # Probe in d2 (nearest-centroid) order — the SAME order static search
    # uses, so capped mode provably matches static's probe set minus
    # clusters the bound excludes losslessly. Round-9 finding: the
    # original lb-ordered walk diverges from quality order when bounds
    # are weak (overlapping clusters: radii span the gaps), and a probe
    # CAP then truncates to the wrong clusters — measured at 10M x 256 /
    # 3162 clusters: recall 0.6318 vs static 0.9756 at the same
    # max_probes=16. Retirement uses the lb order separately (below),
    # which is sound for ANY probe order.
    order_d2 = np.argsort(d2, axis=1, kind="stable")
    order_lb = np.argsort(lbound, axis=1, kind="stable")
    pos = np.zeros(nq, dtype=np.int64)      # walk position in order_d2
    lb_head = np.zeros(nq, dtype=np.int64)  # min-unprobed pointer in order_lb
    probed = np.zeros((nq, ncl), dtype=bool)
    nprobed = np.zeros(nq, dtype=np.int64)
    tau = np.full(nq, np.inf)
    live = np.ones(nq, dtype=bool)
    early_retired = np.zeros(nq, dtype=bool)
    id_to_row = {v: i for i, v in enumerate(q_ids)}
    acc: pd.DataFrame | None = None
    waves = 0
    wave_kernels: list[str] = []
    probed_total = 0
    wave = max(1, int(wave0))

    # pre-pad query vectors once for the rerank join (zeros cancel in the
    # exact difference, same as search() stage 7)
    qv = queries.select(
        F.col(query_id).alias("query_id"),
        pad_to_multiple(F.col(query_vec), 64, model.dim).alias("__qvec"),
    )

    forced_final = False
    while live.any() and waves < 64:
        if waves == 62:
            # wave-cap guard (round-8 advisor): degenerate knobs (wave0=1
            # with wave_growth near 1) could otherwise exit the loop with
            # live queries and silently miss true neighbors despite the
            # docstring's exactness promise. The second-to-last allowed
            # wave covers EVERY remaining cluster, so the loop always
            # terminates with the exact contract intact.
            wave = ncl
            forced_final = True
        pairs_q: list[np.ndarray] = []
        pairs_c: list[np.ndarray] = []
        cap = ncl if max_probes is None else min(ncl, max_probes)
        for qi in np.flatnonzero(live):
            lb_row = lbound[qi]
            ord_lb_row = order_lb[qi]
            probed_row = probed[qi]
            # retirement: advance the lb pointer past probed clusters; if
            # the smallest UNPROBED lower bound exceeds tau, no unprobed
            # cluster can improve the top-k — sound for any probe order,
            # and tau is monotone nonincreasing so the cut is final
            h = int(lb_head[qi])
            while h < ncl and probed_row[ord_lb_row[h]]:
                h += 1
            lb_head[qi] = h
            if h >= ncl or lb_row[ord_lb_row[h]] > tau[qi]:
                if h < ncl:
                    early_retired[qi] = True
                live[qi] = False
                continue
            if nprobed[qi] >= cap or pos[qi] >= ncl:
                live[qi] = False  # probe budget / coverage exhausted
                continue
            # d2-ordered wave: take the next nearest clusters; a cluster
            # whose bound already exceeds tau is skipped WITHOUT consuming
            # budget (it provably holds no top-k member — tau never rises,
            # so the skip is final)
            take = []
            p = int(pos[qi])
            while p < ncl and nprobed[qi] < cap and len(take) < wave:
                c = order_d2[qi, p]
                p += 1
                if lb_row[c] > tau[qi]:
                    continue
                take.append(c)
                probed_row[c] = True
                nprobed[qi] += 1
            pos[qi] = p
            if take:
                pairs_q.append(np.full(len(take), qi, dtype=np.int64))
                pairs_c.append(np.asarray(take, dtype=np.int64))
            else:
                live[qi] = False  # d2 walk exhausted (all remaining skipped)
        if not pairs_q:
            break
        waves += 1
        qi_arr = np.concatenate(pairs_q)
        ci_arr = np.concatenate(pairs_c)
        probed_total += len(ci_arr)

        cols = quantize_probe_pairs(
            yp, cp, qi_arr, ci_arr, d2, model.rand_bias, scalar,
            cfg.theta_log_dim,
        )
        # Arrow table (typed, zero-copy) — the pandas/py-object route
        # rejects numpy scalars in the non-Arrow fallback
        import pyarrow as pa

        qp = np.vstack(cols["qplanes"])
        tbl = pa.table(
            {
                "query_id": pa.array(
                    np.asarray(q_ids[qi_arr], dtype=np.int64), pa.int64()
                ),
                "cluster_id": pa.array(cols["cluster_id"], pa.int32()),
                "y_c_dist_sq": pa.array(cols["y_c_dist_sq"], pa.float32()),
                "lower_bound": pa.array(cols["lower_bound"], pa.float32()),
                "delta": pa.array(cols["delta"], pa.float32()),
                "scalar_sum": pa.array(cols["scalar_sum"], pa.float32()),
                "qplanes": pa.FixedSizeListArray.from_arrays(
                    pa.array(qp.ravel(), pa.int64()), qp.shape[1]
                ).cast(pa.list_(pa.int64())),
            }
        )
        probes_df = spark.createDataFrame(tbl, PROBE_SCHEMA)
        wave_kernel = kernel
        if wave_kernel == "auto":
            # per-wave geometry dispatch, the same rule as search(): the
            # Arrow kernels' per-(cluster, batch) group setup needs ~12+
            # probing queries per cluster to amortize; below that the
            # codegen join wins (measured: sequential 100-query batches
            # popcount 38.1 s vs jvm 21.8 s; full 1k batch fused 7.3 s vs
            # jvm 12.5 s at 31 q/cluster). Round 12: multi-bit codes route
            # to the value-GEMM fastscan kernel whenever its integer-
            # exactness bound holds — search()'s auto dispatch measured it
            # 8-10× over the jvm join even at ~1 query/cluster (10M slice)
            if cfg.bits_per_dim > 1 and (
                model.dim_pad
                * ((1 << cfg.theta_log_dim) - 1)
                * ((1 << cfg.bits_per_dim) - 1)
                < 1 << 24
            ):
                wave_kernel = "fastscan"
            else:
                q_per_cluster = len(ci_arr) / max(len(np.unique(ci_arr)), 1)
                wave_kernel = "popcount" if q_per_cluster >= 12 else "jvm"
        if wave_kernel == "fastscan":
            # search()'s byte cap on the unpacked query values, read at
            # call time: past it most groups would rebuild them every
            # batch — the popcount kernel gives identical results
            from rabitq_spark.index.search import FASTSCAN_MAX_LUT_BYTES

            if len(ci_arr) * 4 * model.dim_pad > FASTSCAN_MAX_LUT_BYTES:
                wave_kernel = "popcount"
        wave_kernels.append(wave_kernel)
        if wave_kernel == "jvm":
            # JVM wave scorer — search()'s stages 5-6 on the wave's probe
            # table. The Arrow shortlist pays a per-(cluster, batch) group
            # setup that needs ~12+ probing queries per cluster to
            # amortize (the geometry dispatch finding, search.py); waves
            # over many clusters with few queries each sit far below
            # that, exactly where the codegen join wins (measured at
            # 10M x 256: fused 55 s vs jvm join 18.5 s at 6 q/cluster).
            from rabitq_spark.index.search import rough_estimator_expr

            index = model.index_df
            probed_set = [int(c) for c in np.unique(ci_arr)]
            if 2 * len(probed_set) <= ncl:
                index = index.filter(F.col("cluster_id").isin(probed_set))
            # same estimator expression as search() stage 5 (shared helper
            # — the frame-identity contract depends on it)
            local = index.join(F.broadcast(probes_df), "cluster_id").select(
                "query_id", "orig_id",
                rough_estimator_expr(model).alias("rough"),
            )
        else:
            local = _fused_shortlist(
                model,
                probes_df,
                r,
                cfg.theta_log_dim,
                prune_partitions=True,
                kernel=wave_kernel,
            )
        shortlist = topk_per_group(
            local,
            ["query_id"],
            [F.col("rough").asc(), F.col("orig_id").asc()],
            r,
        ).select("query_id", "orig_id")
        # exact rerank: candidate-bound via the vec store when the model
        # carries one, base join otherwise (bit-identical — exact_rerank)
        exact = exact_rerank(model, shortlist, qv)
        wave_res = topk_per_group(
            exact,
            ["query_id"],
            [F.col("dist").asc(), F.col("neighbor_id").asc()],
            topk,
        ).select("query_id", "neighbor_id", "dist").toPandas()

        acc = (
            wave_res
            if acc is None
            else pd.concat([acc, wave_res], ignore_index=True).drop_duplicates(
                ["query_id", "neighbor_id"]
            )
        )
        acc = (
            acc.sort_values(
                ["query_id", "dist", "neighbor_id"], ignore_index=True
            )
            .groupby("query_id", sort=False)
            .head(topk)
            .reset_index(drop=True)
        )
        counts = acc.groupby("query_id")["dist"].agg(["count", "max"])
        for qid_val, row in counts.iterrows():
            qi = id_to_row.get(qid_val)
            if qi is not None and row["count"] >= topk:
                tau[qi] = row["max"]
        wave = int(np.ceil(wave * wave_growth))

    if stats is not None:
        stats["waves"] = waves
        stats["probed_clusters_total"] = int(probed_total)
        stats["avg_probes_per_query"] = probed_total / max(nq, 1)
        stats["retired_early"] = int(early_retired.sum())
        stats["forced_final_wave"] = forced_final
        stats["wave_kernels"] = wave_kernels

    if acc is None:
        acc = pd.DataFrame(
            {"query_id": [], "neighbor_id": [], "dist": []}
        )
    out = spark.createDataFrame(
        acc, "query_id bigint, neighbor_id bigint, dist double"
    )
    return topk_per_group(
        out,
        ["query_id"],
        [F.col("dist").asc(), F.col("neighbor_id").asc()],
        topk,
    ).select("query_id", "neighbor_id", "dist", "rank")
