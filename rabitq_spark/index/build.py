"""IVF + RaBitQ index construction — the training pipeline (SURVEY.md §3
entry point 2; reference RaBitQ::from_path, src/rabitq.rs:158-265).

Spark shape:
  T1  read base Parquet, zero-pad to dim % 64 == 0
  T2  centroids via MLlib KMeans (replaces the external faiss script,
      scripts/cluster.py) — trained on a sample at scale
  T3  one mapInPandas pass over the base computing, per row, in float32
      (matching reference numerics): nearest centroid, residual, packed sign
      codes, and the Factor quadruple (src/rabitq.rs:199-229)
  T4  the result is the index DataFrame, partitioned by cluster_id

The per-row math is a handful of BLAS calls per Arrow batch — the Spark
analogue of the reference's SIMD loops. Rotation matrix P and projected
centroids are broadcast once; nothing driver-sized scales with n.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import replace as dc_replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rabitq_spark._dist import ensure_package_on_executors
from rabitq_spark.config import RaBitQConfig
from rabitq_spark.functions.vector import pad_to_multiple
from rabitq_spark.index.model import RaBitQModel
from rabitq_spark.index.rotation import apply_rot

INDEX_SCHEMA = (
    "cluster_id int, orig_id bigint, code array<bigint>, "
    "factor_ip float, factor_ppc float, error_bound float, center_dist_sq float"
)

# bits_per_dim >= 2 (extended multi-bit base codes): the sign code + RaBitQ
# factor quadruple is replaced by B scalar-quantized bit-planes and the
# per-row dequantization scalars the symmetric estimator needs
MULTIBIT_INDEX_SCHEMA = (
    "cluster_id int, orig_id bigint, code array<bigint>, "
    "b_lb float, b_delta float, b_sum float, center_dist_sq float"
)

# columns every index row has; anything beyond these is a carried attribute
# (build_index(attr_cols=...)) and must survive append/delete/upsert
_STD_INDEX_COLS = frozenset(p.split()[0] for p in INDEX_SCHEMA.split(", ")) | frozenset(
    p.split()[0] for p in MULTIBIT_INDEX_SCHEMA.split(", ")
)


MAX_DENSE_ROT_DIM = 2048


def gen_rotation(dim_pad: int, seed: int, block_dim: int = MAX_DENSE_ROT_DIM):
    """Random orthogonal rotation: QR of a standard Gaussian
    (gen_random_qr_orthogonal, src/utils.rs:16-20). Seeded → deterministic.

    Up to `block_dim` dims this is the reference's dense matrix; beyond it a
    block-diagonal BlockRotation (one QR per ≤block_dim slice) keeps
    broadcast size O(dim × block_dim) instead of O(dim²) — the dim-8k
    escape hatch from the round-1 PLAN ceiling."""
    rng = np.random.default_rng(seed)
    if dim_pad <= block_dim:
        q, _ = np.linalg.qr(rng.standard_normal((dim_pad, dim_pad)))
        return q.astype(np.float32)
    from rabitq_spark.index.rotation import BlockRotation

    blocks = []
    for s in range(0, dim_pad, block_dim):
        b = min(block_dim, dim_pad - s)
        q, _ = np.linalg.qr(rng.standard_normal((b, b)))
        blocks.append(q.astype(np.float32))
    return BlockRotation(blocks)


def gen_bias(dim_pad: int, seed: int) -> np.ndarray:
    """U(0,1) dither bias (gen_random_bias, src/utils.rs:37-41)."""
    rng = np.random.default_rng(seed + 1)
    return rng.random(dim_pad, dtype=np.float32)


def gen_identity_rotation(dim_pad: int) -> np.ndarray:
    """Debug hook: identity rotation (gen_identity_matrix, src/utils.rs:25-28)
    — collapses the randomized transform so quantization is hand-checkable."""
    return np.eye(dim_pad, dtype=np.float32)


def gen_fixed_bias(dim_pad: int) -> np.ndarray:
    """Debug hook: fixed 0.5 dither (gen_fixed_bias, src/utils.rs:31-34)."""
    return np.full(dim_pad, 0.5, dtype=np.float32)


def pack_signs(mat: np.ndarray) -> np.ndarray:
    """Pack sign bits (v > 0) of each row into little-endian u64 words —
    vector_binarize_u64 (src/utils.rs:53-61): bit i of word i//64 set iff
    v[i] > 0. Returns int64 view (bit pattern preserved for Spark BIGINT)."""
    bits = (mat > 0).astype(np.uint8)
    packed = np.packbits(bits, axis=1, bitorder="little")
    return packed.view(np.uint64).astype(np.int64, copy=False)


def _numpy_lloyd(x: np.ndarray, k: int, seed: int, iters: int = 15) -> np.ndarray:
    """Seeded Lloyd k-means on a driver-held sample (vectorized GEMM
    assignment). Deterministic; empty clusters respawn on the farthest
    points."""
    rng = np.random.default_rng(seed)
    k = min(k, x.shape[0])
    centers = x[rng.choice(x.shape[0], size=k, replace=False)].astype(np.float32)
    x_sq = (x.astype(np.float32) ** 2).sum(axis=1)
    for _ in range(iters):
        d2 = x_sq[:, None] - 2.0 * (x @ centers.T) + (centers**2).sum(axis=1)[None, :]
        lab = d2.argmin(axis=1)
        far_order = None  # points by descending distance to their centroid
        n_respawned = 0
        for j in range(k):
            m = lab == j
            if m.any():
                centers[j] = x[m].mean(axis=0)
            else:
                # respawn each empty cluster on a DISTINCT far point — a
                # shared argmax would collapse simultaneous empties onto one
                # duplicate centroid (stable sort: deterministic under ties)
                if far_order is None:
                    far_order = np.argsort(-d2.min(axis=1), kind="stable")
                centers[j] = x[far_order[n_respawned % x.shape[0]]]
                n_respawned += 1
    return centers


def _kmeans_centroids(
    base: DataFrame,
    vec_col: str,
    k: int,
    seed: int,
    sample_fraction: float | None,
    max_sample_rows: int = 100_000,
    use_mllib: bool = False,
) -> np.ndarray:
    """Coarse centroids, replacing scripts/cluster.py (faiss).

    Default path mirrors the reference exactly: train on a bounded SAMPLE
    (scripts/cluster.py:10-19 reservoir-samples before faiss) held on the
    driver, with seeded numpy Lloyd — deterministic and free of MLlib's JVM
    warm-up cost. Assignments for every row still happen in the distributed
    transform pass. `use_mllib=True` switches to distributed MLlib KMeans
    for cases where even the sample must stay distributed.
    """
    if use_mllib:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        df = base.select(array_to_vector(F.col(vec_col)).alias("features"))
        if sample_fraction is not None and sample_fraction < 1.0:
            df = df.sample(fraction=sample_fraction, seed=seed)
        model = KMeans(k=k, seed=seed, maxIter=10, initMode="k-means||").fit(df)
        centers = [np.asarray(c) for c in model.clusterCenters()]
        return np.vstack(centers).astype(np.float32)

    df = base.select(F.col(vec_col).alias("v"))
    if sample_fraction is not None and sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=seed)
    sample = df.limit(max_sample_rows).toPandas()
    x = np.vstack(sample["v"].values).astype(np.float32)
    return _numpy_lloyd(x, k, seed)


def _pad_base(
    base: DataFrame, id_col: str, vec_col: str, attr_cols: list[str], dim: int
) -> DataFrame:
    """The stored base layout: (orig_id, vec zero-padded to a multiple of
    64, *attr_cols) — P5 zero-padding (src/rabitq.rs:167-179)."""
    return base.select(
        F.col(id_col).alias("orig_id"),
        pad_to_multiple(F.col(vec_col), 64, dim).alias("vec"),
        *attr_cols,
    )


def _materialize_batch(
    model: RaBitQModel, new_base: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """Evaluate a write's batch exactly once: pad it and checkpoint the
    rows, quantize the checkpoint with the model's FROZEN transform (same
    centroids, rotation, bias — so existing codes stay valid) and
    checkpoint the codes. Returns (base rows, index rows), both
    executor-held blocks with no lineage back to `new_base`.

    Carried attribute columns (build_index(attr_cols=...)) ride along when
    `new_base` has them; attrs the batch lacks are NULL (so metadata
    predicates exclude them — standard semantics)."""
    attr_cols = [c for c in model.index_df.columns if c not in _STD_INDEX_COLS]
    for c in attr_cols:
        if c not in new_base.columns:
            new_base = new_base.withColumn(
                c, F.lit(None).cast(model.index_df.schema[c].dataType)
            )
    rows = _pad_base(new_base, id_col, vec_col, attr_cols, model.dim)
    rows = rows.localCheckpoint(eager=True)
    codes = build_index(
        rows,
        model.config,
        id_col="orig_id",
        vec_col="vec",
        dim=model.dim_pad,  # already padded
        attr_cols=attr_cols,
        _frozen_state=(model.rotation, model.rand_bias, model.centroids_proj),
    ).index_df.localCheckpoint(eager=True)
    return rows, codes


def _write(
    model: RaBitQModel,
    victims: DataFrame | None = None,
    batch: tuple[DataFrame, DataFrame] | None = None,
) -> RaBitQModel:
    """`old ⋈anti victims ∪ batch` over both big tables. The existing
    tables are never rewritten, so a write costs O(batch) and a loaded
    index keeps its Parquet partition pruning."""
    index_df, base_df = model.index_df, model.base_df
    if victims is not None:
        index_df = index_df.join(victims, "orig_id", "left_anti")
        base_df = base_df.join(victims, "orig_id", "left_anti")
    if batch is not None:
        rows, codes = batch
        index_df = index_df.unionByName(codes)
        base_df = base_df.unionByName(rows)
    return dc_replace(
        model, index_df=index_df, base_df=base_df, n_rows=None, vec_store=None
    )


def append_to_index(model: RaBitQModel, new_base: DataFrame,
                    id_col: str = "id", vec_col: str = "vec") -> RaBitQModel:
    """Incrementally index new vectors into an existing model.

    The reference leaves insert/update/delete unimplemented (README.md:18
    unchecked). Here the new batch is read, quantized with the FROZEN
    trained state and materialized ONCE, when this is called (see
    _materialize_batch); the returned model unions those rows onto the
    existing index/base DataFrames, which are never rewritten. Recall
    degrades only if the data distribution drifts from the trained
    centroids — the standard IVF contract (compact_index repairs it).

    Materializing up front is what keeps lookups cheap: a lazy union would
    re-read and re-quantize every past batch on every search() of the
    returned model. It also makes the model a snapshot — later changes to
    the source behind `new_base` do not leak into it. The input model is
    untouched.
    """
    return _write(model, batch=_materialize_batch(model, new_base, id_col, vec_col))


def delete_from_index(model: RaBitQModel, ids: DataFrame) -> RaBitQModel:
    """Delete vectors by id (README.md:18's unchecked 'delete').

    `ids` is a one-column DataFrame of ids to drop. Its distinct ids are
    materialized ONCE, when this is called (one small job, executor-held
    blocks); the returned model anti-joins both big tables against that
    snapshot, so searches never re-read `ids` and later changes to its
    source do not leak into the model. Surviving rows are not rewritten.
    The input model is untouched.

    Deletes do NOT retrain centroids — the standard IVF tombstone contract;
    recall is unaffected because surviving codes are unchanged.
    """
    key = ids.columns[0]
    victims = ids.select(F.col(key).alias("orig_id")).distinct()
    return _write(model, victims=victims.localCheckpoint(eager=True))


def upsert_into_index(
    model: RaBitQModel,
    new_base: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> RaBitQModel:
    """Upsert = delete-then-append (README.md:18's unchecked
    'insert/update'): rows whose id already exists are replaced, new ids are
    inserted.

    The batch is read, quantized and materialized ONCE, when this is called
    (see _materialize_batch), and its materialized ids are the anti-join
    victims — so a search() of the returned model never re-reads the batch
    or re-runs its quantize pass, and the model is a snapshot of the batch
    as it was at call time. Index rows of untouched ids are never
    recomputed or rewritten: a write costs O(batch)."""
    rows, codes = _materialize_batch(model, new_base, id_col, vec_col)
    return _write(model, victims=rows.select("orig_id"), batch=(rows, codes))


def compact_index(
    model: RaBitQModel,
    n_clusters: int | None = None,
    kmeans_sample_fraction: float | None = None,
    n_rows: int | None = None,
) -> RaBitQModel:
    """Compact a mutated index: re-train centroids on the CURRENT base and
    requantize every surviving row.

    append_to_index/delete_from_index keep the trained transform frozen —
    the right per-batch trade (no rewrite of existing rows), but after
    enough drifted appends the coarse centroids no longer describe the
    data and default-nprobe recall decays; deletes likewise leave cluster
    sizes unbalanced. Compaction is the batch repair: one distributed
    rebuild pass over base_df (the same mapInPandas transform as a cold
    build), producing freshly fitted centroids, balanced cluster_id
    partitions, and no tombstone residue. Rotation and dither bias are
    regenerated from the same config seed, so for an unchanged dim_pad the
    projection is identical and only centroids/codes/factors change.

    `n_clusters` resizes the coarse index (e.g. √n after heavy growth);
    carried attribute columns survive. The input model is untouched.
    """
    cfg = model.config
    if n_clusters is not None and n_clusters != cfg.n_clusters:
        cfg = dc_replace(cfg, n_clusters=n_clusters)
    attr_cols = [c for c in model.base_df.columns if c not in ("orig_id", "vec")]
    # base_df is already padded to dim_pad, so build with dim=dim_pad (a
    # second padding pass would corrupt the vectors); restore the original
    # logical dim on the result so query-side padding stays correct
    rebuilt = build_index(
        model.base_df,
        cfg,
        id_col="orig_id",
        vec_col="vec",
        dim=model.dim_pad,
        kmeans_sample_fraction=kmeans_sample_fraction,
        n_rows=n_rows,
        attr_cols=attr_cols,
    )
    return RaBitQModel(
        config=rebuilt.config,
        dim=model.dim,
        dim_pad=rebuilt.dim_pad,
        rotation=rebuilt.rotation,
        rand_bias=rebuilt.rand_bias,
        centroids_proj=rebuilt.centroids_proj,
        index_df=rebuilt.index_df,
        base_df=rebuilt.base_df,
        n_rows=n_rows if n_rows is not None else model.n_rows,
    )


def hierarchical_kmeans_centroids(
    base: DataFrame,
    vec_col: str,
    k_top: int,
    k_down: int,
    seed: int = 42,
    sample_fraction: float | None = None,
    sub_iters: int = 10,
) -> np.ndarray:
    """Two-level hierarchical k-means (reference scripts/cluster.py:63-108):
    MLlib KMeans picks k_top coarse cells, then every cell is refined into
    k_down sub-centroids — k_top × k_down centroids total (empty cells give
    fewer).

    Spark shape: the top level is distributed MLlib; the refinement is
    `applyInPandas` per top-cell (each cell's rows are already co-located by
    the groupBy shuffle), running a seeded Lloyd loop in numpy — exactly the
    map-side work faiss did in the reference, parallelized across cells.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from rabitq_spark._dist import ensure_package_on_executors

    ensure_package_on_executors(base.sparkSession)
    df = base.select(F.col(vec_col).alias("vec"))
    if sample_fraction is not None and sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=seed)
    # cache the sampled features: MLlib KMeans re-evaluates its input every
    # iteration, and uncached that is maxIter full scans (+ re-samples) of
    # the base — measured at 10M×256 the fit crawled through 25 re-scans
    # before this. The refine pass below reads the same cache. Same seeded
    # sample either way; results unchanged.
    feat = df.select(
        "vec", array_to_vector(F.col("vec")).alias("features")
    ).cache()
    try:
        top = KMeans(k=k_top, seed=seed, maxIter=25).fit(feat)
        assigned = top.transform(feat).select(
            F.col("prediction").alias("cell"), "vec"
        )

        def refine(pdf: pd.DataFrame) -> pd.DataFrame:
            cell = int(pdf["cell"].iloc[0])
            x = np.vstack(pdf["vec"].values).astype(np.float32)
            k = min(k_down, x.shape[0])
            rng = np.random.default_rng(seed + cell)
            centers = x[rng.choice(x.shape[0], size=k, replace=False)].copy()
            for _ in range(sub_iters):  # plain Lloyd, deterministic
                d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
                lab = d2.argmin(axis=1)
                for j in range(k):
                    m = lab == j
                    if m.any():
                        centers[j] = x[m].mean(axis=0)
            return pd.DataFrame({"cell": cell, "centroid": list(centers)})

        dim = len(base.select(vec_col).first()[0])
        out = assigned.groupBy("cell").applyInPandas(
            refine, f"cell int, centroid array<float>"
        )
        cents = out.select("centroid").toPandas()["centroid"].values
    finally:
        feat.unpersist()
    return np.vstack(cents).astype(np.float32).reshape(-1, dim)


def build_index(
    base: DataFrame,
    config: RaBitQConfig,
    id_col: str = "id",
    vec_col: str = "vec",
    dim: int | None = None,
    centroids: np.ndarray | None = None,
    kmeans_sample_fraction: float | None = None,
    debug_deterministic: bool = False,
    n_rows: int | None = None,
    attr_cols: list[str] | None = None,
    _frozen_state: tuple | None = None,
) -> RaBitQModel:
    """Train the IVF+RaBitQ index over `base` (id_col BIGINT, vec_col ARRAY<FLOAT>).

    `n_rows`, when the caller already knows it, is carried on the model so
    search() can size its rerank width from the exact average cluster size;
    it is never computed here (the build stays a single lazy plan).

    `attr_cols` names metadata columns of `base` to CARRY INTO the index
    rows (and the stored base). This is the scale path for filtered search:
    a predicate over carried attrs filters the index scan itself —
    predicate pushdown into the cluster_id-partitioned Parquet, zero extra
    shuffles and zero joins — instead of semi-joining an id set against the
    candidate stream (see search(index_predicate=...))."""
    spark = base.sparkSession
    ensure_package_on_executors(spark)
    if dim is None:
        dim = len(base.select(vec_col).first()[0])
    dim_pad = ((dim + 63) // 64) * 64

    attr_cols = list(attr_cols or [])
    attr_ddl = "".join(
        f", {c} {base.schema[c].dataType.simpleString()}" for c in attr_cols
    )
    base = _pad_base(base, id_col, vec_col, attr_cols, dim)

    if _frozen_state is not None:
        # incremental append: reuse the trained transform so new codes are
        # commensurable with existing ones (see append_to_index)
        rotation, rand_bias, centroids_proj = _frozen_state
    else:
        if centroids is None:
            centroids = _kmeans_centroids(
                base, "vec", config.n_clusters, config.seed, kmeans_sample_fraction
            )
        centroids = centroids.astype(np.float32)
        if centroids.shape[1] != dim_pad:
            pad = np.zeros(
                (centroids.shape[0], dim_pad - centroids.shape[1]), np.float32
            )
            centroids = np.hstack([centroids, pad])
        if debug_deterministic:
            # P3 debug generators (src/utils.rs:22-34): P = I, bias = 0.5
            # make every stage exactly reproducible and hand-checkable
            # (SURVEY §5.4)
            rotation = gen_identity_rotation(dim_pad)
            rand_bias = gen_fixed_bias(dim_pad)
        else:
            rotation = gen_rotation(dim_pad, config.seed)
            rand_bias = gen_bias(dim_pad, config.seed)
        centroids_proj = apply_rot(centroids, rotation).astype(np.float32)

    # Base-side dither for multi-bit codes must be INDEPENDENT of the
    # query-side rand_bias: both sides quantize with trunc(x + dither), and a
    # shared dither vector correlates the two rounding errors per dimension,
    # biasing the symmetric estimator's inner product upward (measured −7% on
    # rough distances before this split). Seed-derived → deterministic, and
    # search never needs it, so it is not model state.
    base_bias = (
        np.random.default_rng(config.seed + 2).random(dim_pad, dtype=np.float32)
        if config.bits_per_dim > 1
        else None
    )
    sc = spark.sparkContext
    bc = sc.broadcast((rotation, centroids_proj, base_bias))
    epsilon = config.epsilon
    default_dot = config.default_x_dot_product
    bits = config.bits_per_dim

    def transform(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rot, cp, bias = bc.value
        cp_sq = (cp.astype(np.float32) ** 2).sum(axis=1)
        dim_sqrt = np.float32(np.sqrt(np.float32(dim_pad)))
        # error_base = 2ε/sqrt(dim-1)  (src/rabitq.rs:220)
        error_base = np.float32(2.0 * epsilon / np.sqrt(dim_pad - 1.0))
        n_words = dim_pad // 64
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.vstack(pdf["vec"].values).astype(np.float32)
            xp = apply_rot(x, rot).astype(np.float32)  # T2 projection (src/rabitq.rs:188)
            # D6 nearest centroid in projected space (src/utils.rs:261-277)
            d2 = xp @ cp.T
            d2 = (xp**2).sum(axis=1)[:, None] - 2.0 * d2 + cp_sq[None, :]
            labels = d2.argmin(axis=1)
            resid = xp - cp[labels]  # x_c_quantized (src/rabitq.rs:205)
            center_dist_sq = (resid.astype(np.float32) ** 2).sum(axis=1)
            if bits > 1:
                # Extended multi-bit codes: the same dithered scalar
                # quantization the QUERY side uses (src/utils.rs:194-209),
                # applied to the base residual with B bit-planes. resid ≈
                # b_lb + b_delta·u, u ∈ [0, 2^B − 1]; the search-side
                # estimator pairs these planes with the query planes
                # symmetrically (search.py::rough_distance_expr_multibit).
                b_lb = resid.min(axis=1).astype(np.float32)
                b_ub = resid.max(axis=1).astype(np.float32)
                levels = np.float32((1 << bits) - 1)
                b_delta = ((b_ub - b_lb) / levels).astype(np.float32)
                with np.errstate(divide="ignore"):
                    mult = np.where(
                        b_delta > 0, np.float32(1.0) / b_delta, np.float32(0.0)
                    )
                u = (
                    (resid - b_lb[:, None]) * mult[:, None] + bias[None, :]
                ).astype(np.uint16)
                b_sum = u.sum(axis=1, dtype=np.uint32).astype(np.float32)
                planes = np.empty((bits, len(u), n_words), dtype=np.uint64)
                for p in range(bits):
                    pb = ((u >> p) & 1).astype(np.uint8)
                    planes[p] = np.packbits(pb, axis=1, bitorder="little").view(
                        np.uint64
                    )
                mcodes = (
                    planes.transpose(1, 0, 2)
                    .reshape(len(u), bits * n_words)
                    .view(np.int64)
                )
                out = {
                    "cluster_id": labels.astype(np.int32),
                    "orig_id": pdf["orig_id"].values,
                    "code": list(mcodes),
                    "b_lb": b_lb,
                    "b_delta": b_delta,
                    "b_sum": b_sum,
                    "center_dist_sq": center_dist_sq.astype(np.float32),
                }
                for c in attr_cols:
                    out[c] = pdf[c].values
                yield pd.DataFrame(out)
                continue
            x_c_dist = np.sqrt(center_dist_sq)
            codes = pack_signs(resid)
            # <r, sign(r)> = Σ|r| (sign is ±1; zeros contribute 0 either way)
            abs_sum = np.abs(resid).sum(axis=1)
            norm = x_c_dist * dim_sqrt
            with np.errstate(divide="ignore", invalid="ignore"):
                x_dot = np.where(
                    np.isfinite(norm) & (norm > 0), abs_sum / norm, default_dot
                ).astype(np.float32)
            x_c_over_ip = np.where(x_dot != 0, x_c_dist / x_dot, np.inf).astype(np.float32)
            # Factor quadruple (src/rabitq.rs:219-229)
            error_bound = error_base * np.sqrt(
                np.maximum(x_c_over_ip**2 - center_dist_sq, 0.0)
            )
            factor_ip = (-2.0 / dim_sqrt) * x_c_over_ip
            # one_vec · sign(r) = (#pos) − (#neg) over the padded dim
            n_pos = (resid > 0).sum(axis=1)
            sign_sum = (2 * n_pos - resid.shape[1]).astype(np.float32)
            factor_ppc = factor_ip * sign_sum
            out = {
                "cluster_id": labels.astype(np.int32),
                "orig_id": pdf["orig_id"].values,
                "code": list(codes),
                "factor_ip": factor_ip.astype(np.float32),
                "factor_ppc": factor_ppc.astype(np.float32),
                "error_bound": error_bound.astype(np.float32),
                "center_dist_sq": center_dist_sq.astype(np.float32),
            }
            for c in attr_cols:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    # quantization is CPU-bound per row (rotation matmul + packbits): spread
    # a narrow base (few parquet files) to cluster width first — no-op on
    # already-wide tables, so at 100 TB this never adds a shuffle
    wide = base
    par = spark.sparkContext.defaultParallelism
    if wide.rdd.getNumPartitions() < par:
        wide = wide.repartition(par)
    schema = MULTIBIT_INDEX_SCHEMA if config.bits_per_dim > 1 else INDEX_SCHEMA
    index_df = wide.mapInPandas(transform, schema + attr_ddl)
    return RaBitQModel(
        config=config,
        dim=dim,
        dim_pad=dim_pad,
        rotation=rotation,
        rand_bias=rand_bias,
        centroids_proj=centroids_proj,
        index_df=index_df,
        base_df=base,
        n_rows=n_rows,
    )
