"""Batch ANN search — the reference's 7-stage query lifecycle
(src/rabitq.rs:267-333) as one DataFrame program (SURVEY.md §3).

Stages:
  1-4. query prep (pad, rotate, probe selection, per-(query,cluster)
       residual quantization), one function (_probe_block) run in one of
       two places. When the search reads the probe geometry before its
       action (kernel dispatch, partition pruning), a broadcast-probe
       batch within _DRIVER_PROBE_MAX_ROWS probe rows and
       _DRIVER_PROBE_MAX_BYTES of query vectors is collected once and
       prepared on the driver, as the reference prepares each query
       in-process (src/rabitq.rs:267-333); the probe table and the
       rerank's query vectors are both built from that one collected
       batch. Any other search runs it as one mapInPandas over the query
       batch with the rotation matrix + projected centroids broadcast.
       Either way it emits the probe table: (query_id,
       cluster_id, y_c_dist_sq, lower_bound, delta, scalar_sum, qplanes),
       the same bits from both places.
  5.   rough scoring — equi-join probes ⋈ index on cluster_id (probe side
       broadcast; index side partition-pruned by the probed cluster set),
       then the D5 estimator as a pure Column expression (whole-stage
       codegen; src/rabitq.rs:336-367).
  6.   top-R rough candidates per query (WindowGroupLimit) — the batch
       substitute for the sequential heap threshold (src/rerank.rs:62-114).
  7.   exact rerank: join base on orig_id, exact squared-L2 in double
       precision, top-k per query.

Scale notes: the only shuffles are the two window top-ks and (if the probe
table outgrows broadcast) the cluster_id join. The index never moves; probes
move to it. Cluster-size skew is handled by AQE skew-join splitting.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rabitq_spark._blas import can_pin, one_thread
from rabitq_spark._dist import ensure_package_on_executors
from rabitq_spark.functions.vector import l2_squared, pad_to_multiple
from rabitq_spark.index.rotation import apply_rot
from rabitq_spark.index.model import RaBitQModel
from rabitq_spark.metrics import SearchMetrics
from rabitq_spark.operators.topk import topk_per_group

PROBE_SCHEMA = (
    "query_id bigint, cluster_id int, y_c_dist_sq float, lower_bound float, "
    "delta float, scalar_sum float, qplanes array<bigint>"
)
PROBE_SCHEMA_COLUMNS = [f.split()[0] for f in PROBE_SCHEMA.split(", ")]


def quantize_probe_pairs(
    yp: "np.ndarray",
    cp: "np.ndarray",
    qi: "np.ndarray",
    ci: "np.ndarray",
    d2: "np.ndarray",
    bias: "np.ndarray",
    scalar: "np.float32",
    theta_log_dim: int,
) -> dict:
    """Stage-4 residual quantization for an EXPLICIT flat list of
    (query, cluster) pairs (P8/P9/P10, src/rabitq.rs:304-317) — the
    shared numpy core of _prepare_probes' batch path and
    search_adaptive's driver-built probe waves. `yp` is the rotated
    padded query block, `cp` the projected centroids, `qi`/`ci` parallel
    index arrays selecting the pairs, `d2` the (nq, n_clusters) squared
    centroid distances. Bit-identical to the original (nq, nb)-shaped
    computation: every op is elementwise per pair."""
    dim_pad = cp.shape[1]
    n_words = dim_pad // 64
    npairs = len(qi)
    resid = (yp[qi] - cp[ci]).astype(np.float32)  # (npairs, dim_pad)
    lb = resid.min(axis=1).astype(np.float32)
    ub = resid.max(axis=1).astype(np.float32)
    delta = ((ub - lb) * scalar).astype(np.float32)
    with np.errstate(divide="ignore"):
        mult = np.where(delta > 0, np.float32(1.0) / delta, np.float32(0.0))
    qu = ((resid - lb[:, None]) * mult[:, None] + bias[None, :]).astype(
        np.uint8
    )
    scalar_sum = qu.sum(axis=1, dtype=np.uint32).astype(np.float32)
    planes = np.empty((theta_log_dim, npairs, n_words), dtype=np.uint64)
    for p in range(theta_log_dim):
        bits = ((qu >> p) & 1).astype(np.uint8)
        planes[p] = np.packbits(bits, axis=1, bitorder="little").view(np.uint64)
    qplanes = (
        planes.transpose(1, 0, 2)
        .reshape(npairs, theta_log_dim * n_words)
        .view(np.int64)
    )
    y_c = d2[qi, ci].astype(np.float32)
    np.maximum(y_c, 0.0, out=y_c)
    return {
        "cluster_id": ci.astype(np.int32),
        "y_c_dist_sq": y_c,
        "lower_bound": lb,
        "delta": delta,
        "scalar_sum": scalar_sum,
        "qplanes": list(qplanes),
    }


#: Probe-row bound for preparing a search's probes on the driver. A batch
#: of at most this many probe rows (queries × min(nprobe, n_clusters)) is
#: collected once and runs stages 1-4 in the driver process; a larger one
#: runs them as a mapInPandas job. Measured on a 4-core VM (128 dims, 4-bit
#: index, 100 clusters, nprobe 3): driver prep costs about 5 µs per probe
#: row on one BLAS thread (30 rows: 2 ms; 1k: 5 ms; 65,535: 0.31 s; 240k:
#: 1.25 s), and the query collect about 0.1 s. The probe checkpoint plus
#: per-cluster count collect that the driver route replaces cost 0.39-0.58 s
#: on a 10-query batch, so the routes break even near 65k probe rows.
_DRIVER_PROBE_MAX_ROWS = 65_536

#: Byte bound on the query vectors the driver route collects (they pass
#: through the driver JVM). It caps the collect's row limit at
#: bytes / (dim × 8), and a query plan whose size estimate
#: is already past it skips the collect, so a batch that cannot fit costs
#: no job beyond the mapInPandas route's.
_DRIVER_PROBE_MAX_BYTES = 32 << 20
# Spark's "no estimate" size (spark.sql.defaultSizeInBytes' default)
_UNKNOWN_PLAN_BYTES = (1 << 63) - 1

#: _probe_block pads its query block to a multiple of this many rows, so
#: every row takes a full GEMM tile. Measured with numpy 1.26's bundled
#: OpenBLAS 0.3.23 (Prescott kernels, 4-core x86-64 VM): unpadded, the last
#: 1-3 rows of a block round differently from the same rows inside a
#: larger block; padded, no row of 1-1,000-row blocks at any offset
#: differs, for 1-1,024 output columns. Other OpenBLAS kernels tile
#: differently; tests/test_driver_probes.py checks the identity on the
#: machine that runs it.
_GEMM_TILE_ROWS = 16


def _probe_block(
    pdf: pd.DataFrame,
    query_id: str,
    query_vec: str,
    rot,
    cp: "np.ndarray",
    bias: "np.ndarray",
    nprobe: int,
    theta_log_dim: int,
    scalar: "np.float32",
) -> pd.DataFrame:
    """Stages 1-4 for one block of queries: pad, rotate, pick the nprobe
    nearest centroids, quantize each (query, centroid) residual into
    theta_log_dim bit-planes (P5/P8/P9/P10, src/rabitq.rs:267-333).
    Returns the probe table rows (PROBE_SCHEMA's columns).

    The one implementation of the probe math: _prepare_probes runs it per
    Arrow batch on executors, _driver_probes on the whole batch on the
    driver. Every output row depends on its query alone, whatever block
    the query arrives in, so both routes give the same bits. Two BLAS
    effects would otherwise leak the block into a row's products: a
    multi-threaded GEMM (see _blas), and the edge kernels that take the
    last rows of a block whose height is not a whole number of tiles (a
    one-row block even goes to gemv). So the products run on one BLAS
    thread, over the block padded with zero rows to whole
    _GEMM_TILE_ROWS tiles."""
    if pdf.empty:
        return pd.DataFrame(columns=PROBE_SCHEMA_COLUMNS)
    dim_pad = cp.shape[1]
    q = np.vstack(pdf[query_vec].values).astype(np.float32)
    nq = q.shape[0]
    # P5 query padding (src/rabitq.rs:276-280) plus the zero tile rows
    q = np.pad(q, ((0, -nq % _GEMM_TILE_ROWS), (0, dim_pad - q.shape[1])))
    with one_thread():
        yp = apply_rot(q, rot).astype(np.float32)  # stage 2 rotate
        # stage 3: J1 distances to all centroids + top-nprobe
        cp_sq = (cp**2).sum(axis=1)
        d2 = (yp**2).sum(axis=1)[:, None] - 2.0 * (yp @ cp.T) + cp_sq[None, :]
    yp, d2 = yp[:nq], d2[:nq]
    nb = min(nprobe, cp.shape[0])
    probe_idx = np.argpartition(d2, nb - 1, axis=1)[:, :nb]  # (nq, nb)
    cols = quantize_probe_pairs(
        yp,
        cp,
        np.repeat(np.arange(nq), nb),
        probe_idx.ravel(),
        d2,
        bias,
        scalar,
        theta_log_dim,
    )
    return pd.DataFrame({"query_id": np.repeat(pdf[query_id].values, nb), **cols})


def _prepare_probes(
    model: RaBitQModel, queries: DataFrame, query_id: str, query_vec: str, nprobe: int
) -> DataFrame:
    """Stages 1-4 as one mapInPandas job over the query batch, with the
    rotation, projected centroids and dither broadcast (_probe_block per
    Arrow batch). search() takes this route for a search that reads no
    probe geometry before its action, for batches past the driver bounds
    and for broadcast_probes=False."""
    spark = queries.sparkSession
    ensure_package_on_executors(spark)
    cfg = model.config
    theta_log_dim = cfg.theta_log_dim
    scalar = np.float32(cfg.scalar)
    bc = spark.sparkContext.broadcast(
        (model.rotation, model.centroids_proj, model.rand_bias)
    )

    def prep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rot, cp, bias = bc.value
        for pdf in batches:
            if not pdf.empty:
                yield _probe_block(
                    pdf, query_id, query_vec, rot, cp, bias, nprobe,
                    theta_log_dim, scalar,
                )

    return queries.select(
        F.col(query_id).alias(query_id), F.col(query_vec).alias(query_vec)
    ).mapInPandas(prep, PROBE_SCHEMA)


def _rerank_queries(
    model: RaBitQModel, queries: DataFrame, query_id: str, query_vec: str
) -> DataFrame:
    """Stage 7's query side, (query_id, __qvec): the query vector padded
    like base_df's (the zeros cancel in the exact difference)."""
    return queries.select(
        F.col(query_id).alias("query_id"),
        pad_to_multiple(F.col(query_vec), 64, model.dim).alias("__qvec"),
    )


def probe_dataframe(spark, frame: pd.DataFrame) -> DataFrame:
    """A driver-held probe frame (_probe_block's columns) as a PROBE_SCHEMA
    DataFrame, shipped as one typed Arrow table: no Python worker reads it,
    and building it launches no Spark job."""
    import pyarrow as pa

    qp = (
        np.vstack(frame["qplanes"].values)
        if len(frame)
        else np.zeros((0, 1), np.int64)
    )
    tbl = pa.table(
        {
            "query_id": pa.array(
                np.asarray(frame["query_id"].values, dtype=np.int64), pa.int64()
            ),
            "cluster_id": pa.array(
                np.asarray(frame["cluster_id"].values, dtype=np.int32), pa.int32()
            ),
            **{
                c: pa.array(
                    np.asarray(frame[c].values, dtype=np.float32), pa.float32()
                )
                for c in ("y_c_dist_sq", "lower_bound", "delta", "scalar_sum")
            },
            "qplanes": pa.FixedSizeListArray.from_arrays(
                pa.array(qp.ravel(), pa.int64()), qp.shape[1]
            ).cast(pa.list_(pa.int64())),
        }
    )
    return spark.createDataFrame(tbl, PROBE_SCHEMA)


def _plan_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate for df, in bytes. Spark reports
    spark.sql.defaultSizeInBytes (Long.MaxValue unless set) when it cannot
    estimate, e.g. for a DataFrame built from Python rows."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _driver_probes(
    model: RaBitQModel, queries: DataFrame, query_id: str, query_vec: str, nprobe: int
) -> "tuple[pd.DataFrame, DataFrame] | None":
    """Stages 1-4 on the driver, for a batch within _DRIVER_PROBE_MAX_ROWS
    probe rows and _DRIVER_PROBE_MAX_BYTES of query vectors: one bounded
    collect of the query batch (limit cap + 1, a single Spark job), then
    _probe_block over all of it. Returns the probe frame and the rerank
    query side (_rerank_queries over a DataFrame of the collected batch,
    with the batch's own column types), so neither reads the query
    DataFrame again.

    None when the batch does not fit, and the caller then takes the
    mapInPandas route. A batch whose plan estimate is past the byte bound
    returns None before any job; one the estimate cannot rule out pays
    the bounded collect. Without a pinnable BLAS (_blas.can_pin) the
    driver's products could round differently from the executors', so
    that case returns None too."""
    if not can_pin():
        return None
    batch_df = queries.select(query_id, query_vec)
    cap = min(
        _DRIVER_PROBE_MAX_ROWS // min(nprobe, model.n_clusters),
        _DRIVER_PROBE_MAX_BYTES // (model.dim * 8),  # at a double's width
    )
    estimate = _plan_bytes(batch_df)
    if cap < 1 or _DRIVER_PROBE_MAX_BYTES < estimate < _UNKNOWN_PLAN_BYTES:
        return None
    batch = batch_df.limit(cap + 1).toArrow()
    if batch.num_rows > cap:
        return None
    cfg = model.config
    frame = _probe_block(
        batch.to_pandas(), query_id, query_vec, model.rotation,
        model.centroids_proj, model.rand_bias, nprobe, cfg.theta_log_dim,
        np.float32(cfg.scalar),
    )
    collected = queries.sparkSession.createDataFrame(batch, batch_df.schema)
    return frame, _rerank_queries(model, collected, query_id, query_vec)


def _search_probes(
    model: RaBitQModel,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    nprobe: int,
    driver: bool,
) -> "tuple[DataFrame, pd.DataFrame | None, DataFrame]":
    """(probes, frame, qv) for one search: the probe table, the driver-held
    probe frame, and the rerank's query side. With `driver` set, a batch
    _driver_probes accepts takes the driver route, and `frame` is the
    frame `probes` was built from (probe_dataframe, no job). Otherwise
    `frame` is None and `probes` is the mapInPandas probe table."""
    got = (
        _driver_probes(model, queries, query_id, query_vec, nprobe) if driver else None
    )
    if got is None:
        probes = _prepare_probes(model, queries, query_id, query_vec, nprobe)
        return probes, None, _rerank_queries(model, queries, query_id, query_vec)
    frame, qv = got
    return probe_dataframe(queries.sparkSession, frame), frame, qv


def _probe_geometry(
    probes: DataFrame, frame: "pd.DataFrame | None"
) -> "tuple[DataFrame, int, list]":
    """(probes, probe row count, probed cluster ids) — what auto dispatch,
    the fused-path gates and the partition-pruning IN-list read before the
    action. Free on the driver route: the frame holds it. On the
    mapInPandas route the probe table is checkpointed once (executor
    blocks, lineage cut) and ONE groupBy(cluster_id).count() job
    (≤ n_clusters result rows) reads it; the returned probes read the
    blocks, so the prep runs once."""
    if frame is not None:
        clusters = sorted(int(c) for c in frame["cluster_id"].unique())
        return probes, len(frame), clusters
    probes = probes.localCheckpoint(eager=True)
    rows = probes.groupBy("cluster_id").count().collect()
    return probes, int(sum(r["count"] for r in rows)), [r["cluster_id"] for r in rows]


def _cross_popcount_sql(base_planes: int, query_planes: int, n_words: int) -> str:
    """Σ_{j<query_planes, i<base_planes} popcount(bplane_i ∧ qplane_j) << (i+j)
    as Spark SQL, fully UNROLLED over (query plane, base plane, word) into
    scalar element_at/bit_count terms: the earlier slice+zip_with+aggregate
    fold allocated per-row arrays, which capped rough scoring at ~1.4 M
    rows/s and made IVF lose to brute force past ~1e5 candidates (measured,
    scripts/scaling_probe.py). Every index is a compile-time constant
    within bounds, so it is ANSI-safe. Sums are left-associated, exactly
    as the Column operators built them."""
    shifted = []
    for j in range(query_planes):
        for i in range(base_planes):
            pop = " + ".join(
                f"bit_count(element_at(code, {i * n_words + w + 1})"
                f" & element_at(qplanes, {j * n_words + w + 1}))"
                for w in range(n_words)
            )
            shifted.append(f"shiftleft(CAST({pop} AS BIGINT), {i + j})")
    return " + ".join(shifted)


def rough_distance_expr(theta_log_dim: int, n_words: int) -> F.Column:
    """D5 rough-distance estimator as a Column expression
    (src/rabitq.rs:336-367) — pure codegen, no Python.

    rough = center_dist_sq + y_c_dist_sq + lower_bound·factor_ppc
            + (2·asym_dot − scalar_sum)·factor_ip·delta
            − error_bound·sqrt(y_c_dist_sq)

    Built as ONE SQL string and parsed by a single F.expr call: composing
    it from Column operators cost one py4j round-trip per node (thousands
    per search). The typing is the Column form's: double literals are
    CAST to DOUBLE (a bare 2.0 parses as DECIMAL) and operands keep the
    order the Column operators gave them (`2.0 * col` builds col × 2.0),
    so once the CASTs fold the optimized expression is the Column form's
    and every rough score is bit-identical.
    """
    asym = _cross_popcount_sql(1, theta_log_dim, n_words)
    return F.expr(
        "center_dist_sq + y_c_dist_sq + lower_bound * factor_ppc"
        f" + (CAST({asym} AS DOUBLE) * CAST(2.0 AS DOUBLE) - scalar_sum)"
        " * factor_ip * delta - error_bound * SQRT(y_c_dist_sq)"
    )


def rough_distance_expr_multibit(
    bits: int, theta_log_dim: int, n_words: int, dim_pad: int
) -> F.Column:
    """Symmetric scalar-quantization estimator for multi-bit base codes
    (config.bits_per_dim ≥ 2) — pure codegen, like rough_distance_expr,
    and built the same way (one SQL string, one F.expr call).

    Both sides are dithered scalar quantizations of their residuals:
        resid_q ≈ lower_bound + delta · u_q      (query, theta_log_dim bits)
        resid_b ≈ b_lb + b_delta · u_b           (base, B bits)
    so the inner product expands to four terms, the last a cross-plane
    popcount:  ⟨u_q, u_b⟩ = Σ_{j<4, i<B} 2^{i+j}·popcount(qplane_j ∧ bplane_i)

        rough = center_dist_sq + y_c_dist_sq − 2·(
                  D·lb_q·b_lb + lb_q·b_delta·b_sum
                + b_lb·delta·scalar_sum + delta·b_delta·⟨u_q,u_b⟩ )

    Unrolled over (query-plane, base-plane, word) — B×4×n_words bit_count
    terms. Unlike the 1-bit RaBitQ estimator this is unbiased with no
    error-bound subtraction; accuracy comes from the extra base planes."""
    cross = _cross_popcount_sql(bits, theta_log_dim, n_words)
    return F.expr(
        "center_dist_sq + y_c_dist_sq - ("
        f"lower_bound * CAST({float(dim_pad)!r} AS DOUBLE) * b_lb"
        " + lower_bound * b_delta * b_sum + b_lb * delta * scalar_sum"
        f" + delta * b_delta * CAST({cross} AS DOUBLE)) * CAST(2.0 AS DOUBLE)"
    )


_POPCNT = None


def rough_estimator_expr(model) -> F.Column:
    """The bits-aware D5 estimator for a model — the single place the
    single-bit / multi-bit Column selection lives. Shared by search()'s
    stage-5 jvm plan, range_search and search_adaptive's jvm wave scorer,
    whose 'identical results' contract depends on using the same
    expression."""
    cfg = model.config
    if cfg.bits_per_dim > 1:
        return rough_distance_expr_multibit(
            cfg.bits_per_dim, cfg.theta_log_dim, model.n_words, model.dim_pad
        )
    return rough_distance_expr(cfg.theta_log_dim, model.n_words)


def _popcount64(arr: "np.ndarray") -> "np.ndarray":
    """Vectorized popcount for int64 arrays (numpy<2 has no bitwise_count):
    byte-LUT sum over the 8 bytes of each word."""
    global _POPCNT
    if _POPCNT is None:
        _POPCNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)
    b = arr.view(np.uint8).reshape(*arr.shape, 8)
    return _POPCNT[b].sum(axis=-1).astype(np.int64)


# nibble value v (0..15) -> its 4 bits, LSB first: W16[v, i] = (v >> i) & 1
_NIBBLE_W = np.array(
    [[(v >> i) & 1 for i in range(4)] for v in range(16)], dtype=np.int32
)


def fastscan_luts(planes: "np.ndarray", theta_log_dim: int) -> "np.ndarray":
    """Fastscan-style (André et al., Quick ADC / FAISS fastscan lineage;
    the reference's one unexplored kernel family — README.md:13, and the
    src/simd.rs runtime-dispatch pattern) packed-LUT preparation.

    The asymmetric dot D4 is ⟨code_bits, qu⟩ where qu is the query's
    theta_log_dim-bit scalar-quantized residual. Fastscan regroups the sum
    by 4-dim NIBBLES of the base code: for chunk c and nibble value v,
    LUT[c, v] = Σ_{i: bit i of v} qu[4c+i], so the scan is one table lookup
    per nibble instead of plane-wise popcounts. Input `planes` is the
    packed bit-plane tensor (npairs, theta_log_dim, n_words) exactly as the
    probe table carries it; qu is reconstructed by unpacking the planes
    (bitorder little — the inverse of _prepare_probes' packbits).
    Returns int32 LUTs of shape (npairs, n_chunks, 16), n_chunks = dim_pad/4.
    """
    npairs, _, n_words = planes.shape
    dim_pad = n_words * 64
    # float32 GEMM exactness in fastscan_asym requires every partial sum
    # (≤ dim_pad·(2^theta_log_dim − 1)) to stay under 2^24; enforce the
    # bound HERE rather than only documenting it, so a config that
    # breaches it fails loudly instead of silently returning wrong
    # integers (search() falls back to the popcount kernel before this
    # can trigger — this is the defense for direct callers)
    if dim_pad * ((1 << theta_log_dim) - 1) >= 1 << 24:
        raise ValueError(
            f"fastscan float32-exactness bound violated: dim_pad={dim_pad} "
            f"× (2^{theta_log_dim}−1) ≥ 2^24; use the popcount kernel"
        )
    qu = np.zeros((npairs, dim_pad), dtype=np.int32)
    for p in range(theta_log_dim):
        bits = np.unpackbits(
            planes[:, p, :].astype(np.uint64).view(np.uint8).reshape(npairs, -1),
            axis=1,
            bitorder="little",
        )
        qu += bits.astype(np.int32) << p
    return qu.reshape(npairs, dim_pad // 4, 4) @ _NIBBLE_W.T


def fastscan_nibbles(codes: "np.ndarray") -> "np.ndarray":
    """Split packed 1-bit codes (m, n_words) int64 into 4-bit nibbles
    (m, n_words*16) uint8, dimension-major: nibble c covers dims 4c..4c+3
    with bit i = dim 4c+i (little bit order matches fastscan_luts)."""
    m, n_words = codes.shape
    by = np.ascontiguousarray(codes).view(np.uint8).reshape(m, n_words * 8)
    nib = np.empty((m, n_words * 16), dtype=np.uint8)
    nib[:, 0::2] = by & 0x0F
    nib[:, 1::2] = by >> 4
    return nib


def fastscan_asym(lut3: "np.ndarray", nib: "np.ndarray") -> "np.ndarray":
    """Batch LUT scan as ONE GEMM: one-hot the nibbles (m, 16·C) and
    multiply by the flattened LUTs (npairs, 16·C) → asym (npairs, m).

    BLAS beats both the plane-wise popcount kernel (11–42× measured across
    dim 64–1024) and a per-chunk gather loop (2–7×): the one-hot spends 16×
    the nominal flops but runs at GEMM throughput with no large integer
    temporaries. EXACTNESS: every product is 0/1 × an integer LUT entry
    ≤ 60, every partial sum an integer ≤ dim_pad·15 < 2^24, so float32
    arithmetic is exact regardless of BLAS summation order — the int64
    result is bit-identical to the popcount kernel's (asserted in
    tests/test_index.py)."""
    npairs, n_chunks, _ = lut3.shape
    m = nib.shape[0]
    onehot = np.zeros((m, n_chunks * 16), dtype=np.float32)
    flat = nib.astype(np.int64) + 16 * np.arange(n_chunks, dtype=np.int64)[None, :]
    onehot[np.arange(m)[:, None], flat] = 1.0
    lutf = lut3.reshape(npairs, n_chunks * 16).astype(np.float32)
    return (lutf @ onehot.T).astype(np.int64)


def unpack_plane_values(planes: "np.ndarray", n_planes: int) -> "np.ndarray":
    """Packed bit-plane tensor (n, n_planes, n_words) int64 → per-dim
    integer values (n, n_words·64) float32: v[d] = Σ_p 2^p · bit_p[d]
    (bitorder little — the inverse of _prepare_probes' packbits; the same
    reconstruction fastscan_luts performs before regrouping by nibble)."""
    n, stored_planes, n_words = planes.shape
    # unpack EVERY plane's words in one contiguous pass (8× the per-plane
    # slice-copy-unpack loop: one C call over one buffer), then fold the
    # plane weights with in-place uint8 shifts/ors — values ≤ 2^n_planes−1
    b = np.unpackbits(
        np.ascontiguousarray(planes).view(np.uint8), bitorder="little"
    ).reshape(n, stored_planes, n_words * 64)
    acc = b[:, 0, :].copy()
    for p in range(1, n_planes):
        acc |= b[:, p, :] << p
    return acc.astype(np.float32)


def value_gemm_asym(qvals: "np.ndarray", bvals: "np.ndarray") -> "np.ndarray":
    """The round-11 estimator kernel: the cross term
    Σ_{p<P, i<B} 2^{i+p}·popcount(bplane_i ∧ qplane_p) is, by the binary
    expansion of both sides, exactly ⟨u_q, u_b⟩ — one integer dot product
    of the per-dim quantized VALUES. So compute it as ONE float32 GEMM of
    the unpacked values instead of B plane passes of one-hot LUT GEMMs:
    16× fewer flops per plane (dim vs 16·dim one-hot columns), B× fewer
    passes, and no LUT/one-hot construction per (cluster, batch) group —
    measured 0.76 µs/pair end-to-end before vs the GEMM's ~50 ns/pair
    after, at 10M × 256 × 4-bit geometry.

    EXACTNESS: every product is an integer ≤ (2^P−1)(2^B−1), every partial
    sum ≤ dim_pad·(2^P−1)(2^B−1); callers enforce that bound < 2^24
    (search()'s fastscan gate), so float32 arithmetic is exact regardless
    of BLAS summation order — bit-identical to the plane-wise popcount
    kernel (asserted in tests)."""
    return (qvals @ bvals.T).astype(np.int64)


#: Worker-buffer row budget for _fused_shortlist's partition-level top-R
#: accumulation (~100 MB at 24 bytes/row). Exhaustive configs (r ≥ buffer)
#: emit partial chunks instead of holding the whole partition.
_FUSED_FLUSH_ROWS = 4_000_000


def _fused_shortlist(
    model: RaBitQModel,
    ppdf: pd.DataFrame,
    r: int,
    theta_log_dim: int,
    prune_partitions: bool = True,
    kernel: str = "popcount",
) -> DataFrame:
    """Alternative stages 5-6: rough-score candidates and keep a local top-R
    per query inside ONE mapInPandas over the index — the driver-held probe
    frame `ppdf` (PROBE_SCHEMA's columns) rides as a broadcast keyed by
    cluster.

    Trades the JVM join+window for numpy batch math plus a much smaller
    window input (≤ R rows per query per index partition instead of every
    candidate). Wins when candidates/query is large; the JVM path wins on
    small batches. Results are identical: same estimator, same top-R
    semantics (ties on rough broken by orig_id via stable ordering).

    kernel="popcount" computes the asymmetric dot plane-wise (byte-LUT
    popcount over AND-ed words); kernel="fastscan" unpacks both sides to
    their per-dim quantized integer VALUES and computes the whole cross
    term as ONE float32 GEMM (value_gemm_asym; round 11 — supersedes the
    per-plane one-hot LUT GEMM, which spent 16× the flops per plane plus
    per-group LUT/one-hot construction) — same integer asym, bit-identical
    rough scores. The unpacked query values are built LAZILY executor-side
    per cluster group (cached per worker, 4 bytes/dim per probe row), NOT
    broadcast — the per-group rebuild is ~npairs×dim bit ops, noise.

    Multi-bit base codes (config.bits_per_dim = B > 1) are supported by
    both kernels through the shift-add identity the symmetric estimator's
    cross term factors into: Σ_{j<P,i<B} 2^{i+j}·pop(bplane_i ∧ qplane_j)
    = Σ_i 2^i · asym_1bit(bplane_i) — each base plane is scanned with the
    SAME 1-bit kernel (one extra pass per plane), then shifted in. The
    rough formula mirrors rough_distance_expr_multibit (unbiased, no
    error-bound term).
    """
    spark = model.index_df.sparkSession
    # the scorer is a Python UDF; on the driver probe route nothing else
    # in the plan has shipped the package to executors yet
    ensure_package_on_executors(spark)
    n_words = model.n_words
    bits = model.config.bits_per_dim
    dim_pad = model.dim_pad
    by_cluster: dict = {}
    for cid, grp in ppdf.groupby("cluster_id"):
        planes = np.vstack(grp["qplanes"].values).astype(np.int64)  # (p, 4w)
        planes = planes.reshape(len(grp), theta_log_dim, n_words)
        by_cluster[int(cid)] = (
            grp["query_id"].values.astype(np.int64),
            grp["y_c_dist_sq"].values.astype(np.float32),
            grp["lower_bound"].values.astype(np.float32),
            grp["delta"].values.astype(np.float32),
            grp["scalar_sum"].values.astype(np.float32),
            planes,
        )
    bc = spark.sparkContext.broadcast(by_cluster)

    def topr(q, i, ro):
        """Local top-R per query over (query, rough, id)-lexsorted arrays —
        stable total order, so top-R is associative: applying it per batch
        and again per partition equals one global pass."""
        order = np.lexsort((i, ro, q))
        q, i, ro = q[order], i[order], ro[order]
        boundaries = np.flatnonzero(np.diff(q)) + 1
        starts = np.concatenate(([0], boundaries))
        ends = np.concatenate((boundaries, [len(q)]))
        keep = np.concatenate(
            [np.arange(s, min(s + r, e)) for s, e in zip(starts, ends)]
        )
        return q[keep], i[keep], ro[keep]

    def score(batches):
        probes_by_cluster = bc.value
        qv_cache: dict = {}
        buf_q, buf_id, buf_rough = [], [], []
        for pdf in batches:
            if pdf.empty:
                continue
            out_q, out_id, out_rough = [], [], []
            for cid, grp in pdf.groupby("cluster_id"):
                pr = probes_by_cluster.get(int(cid))
                if pr is None:
                    continue
                qids, ycd, lb, delta, ssum, planes = pr
                codes = np.vstack(grp["code"].values).astype(np.int64)
                m = codes.shape[0]  # codes: (m, bits·w), plane-major words

                # fastscan kernel (round 11): the cross/asym term is ONE
                # value GEMM (see value_gemm_asym) — unpack the query
                # values once per cluster (cached; 4·dim_pad bytes per
                # probe row, bounded at 64 MB per worker: past it, rebuild
                # per group, correctness unaffected) and the base values
                # once per (cluster, batch) group
                qvals = None
                if kernel == "fastscan":
                    qvals = qv_cache.get(int(cid))
                    if qvals is None:
                        qvals = unpack_plane_values(planes, theta_log_dim)
                        if (
                            sum(v.nbytes for v in qv_cache.values())
                            + qvals.nbytes
                            <= 64 << 20
                        ):
                            qv_cache[int(cid)] = qvals

                def asym_1bit(words):
                    """Σ_plane popcount(words & qplane) << plane for ONE
                    base bit-plane's packed words (m, w) → (npairs, m)."""
                    out = np.zeros((len(qids), words.shape[0]), dtype=np.int64)
                    for p in range(theta_log_dim):
                        anded = planes[:, p, None, :] & words[None, :, :]
                        out += _popcount64(anded).sum(axis=-1) << p
                    return out

                cds = grp["center_dist_sq"].values.astype(np.float32)
                if bits > 1:
                    # symmetric multi-bit estimator, mirroring
                    # rough_distance_expr_multibit: cross term via one
                    # value GEMM (fastscan) or the per-plane shift-add of
                    # the 1-bit popcount kernel — identical integers
                    cube = codes.reshape(m, bits, n_words)
                    if kernel == "fastscan":
                        cross = value_gemm_asym(
                            qvals, unpack_plane_values(cube, bits)
                        )
                    else:
                        cross = np.zeros((len(qids), m), dtype=np.int64)
                        for i in range(bits):
                            cross += asym_1bit(
                                np.ascontiguousarray(cube[:, i, :])
                            ) << i
                    b_lb = grp["b_lb"].values.astype(np.float32)
                    b_delta = grp["b_delta"].values.astype(np.float32)
                    b_sum = grp["b_sum"].values.astype(np.float32)
                    # mirror rough_distance_expr_multibit's ASSOCIATION
                    # exactly: Spark left-associates each product and float
                    # multiply is non-associative, so jvm-vs-arrow frame
                    # identity must hold by construction, not incidentally
                    # — (lb·b_delta)·b_sum and (b_lb·delta)·scalar_sum in
                    # float32, the dim_pad term all-double, the cross term
                    # (delta·b_delta) in float32 then promoted by the int64
                    # cross (numpy float32×int64 → float64, matching the
                    # jvm's cast(cross as double))
                    est_ip = (
                        (float(dim_pad) * lb[:, None].astype(np.float64))
                        * b_lb[None, :]
                        + (lb[:, None] * b_delta[None, :]) * b_sum[None, :]
                        + (b_lb[None, :] * delta[:, None]) * ssum[:, None]
                        + (delta[:, None] * b_delta[None, :]) * cross
                    )
                    # (cds + ycd) is a FLOAT32 add in the jvm (both cols
                    # are float), promoted only when the double est_ip term
                    # joins — mirror that promotion point
                    rough = (cds[None, :] + ycd[:, None]).astype(
                        np.float64
                    ) - 2.0 * est_ip
                else:
                    if kernel == "fastscan":
                        asym = value_gemm_asym(
                            qvals,
                            unpack_plane_values(
                                codes.reshape(m, 1, n_words), 1
                            ),
                        )
                    else:
                        asym = asym_1bit(codes)
                    f_ip = grp["factor_ip"].values.astype(np.float32)
                    f_ppc = grp["factor_ppc"].values.astype(np.float32)
                    eb = grp["error_bound"].values.astype(np.float32)
                    # mirror rough_distance_expr's association and
                    # promotion points exactly (see the multibit comment):
                    # ((cds+ycd)+lb·f_ppc) in float32; the asym term
                    # left-associated all-double ((2a−s)·f_ip)·delta; sqrt
                    # in double (F.sqrt always returns double)
                    rough = (
                        (
                            (cds[None, :] + ycd[:, None])
                            + lb[:, None] * f_ppc[None, :]
                        ).astype(np.float64)
                        + (2.0 * asym - ssum[:, None])
                        * f_ip[None, :]
                        * delta[:, None]
                        - eb[None, :]
                        * np.sqrt(ycd.astype(np.float64))[:, None]
                    )
                ids = grp["orig_id"].values.astype(np.int64)
                if m > r:
                    # EXACT per-query prefilter before the lexsort-based
                    # top-R: keep rows with rough <= the r-th smallest per
                    # query (np.partition is O(m) per row vs the previous
                    # full-matrix lexsort feed). Every boundary TIE is
                    # kept, so this is a superset of the true top-R and
                    # the stable (rough, orig_id) trim below is unchanged
                    # in semantics — it just runs on ~nq×r rows instead
                    # of nq×m (the round-7 Amdahl item: selection, not
                    # the estimator, dominated the fastscan path)
                    kth = np.partition(rough, r - 1, axis=1)[:, r - 1 : r]
                    qi, ci = np.nonzero(rough <= kth)
                    out_q.append(qids[qi])
                    out_id.append(ids[ci])
                    out_rough.append(rough[qi, ci])
                else:
                    out_q.append(np.repeat(qids, m))
                    out_id.append(np.tile(ids, len(qids)))
                    out_rough.append(rough.ravel())
            if not out_q:
                continue
            # per-batch trim bounds the buffer; the partition-level trim
            # below shrinks the Arrow emit (and the downstream window
            # input) again — measured 16.7M -> <=nq×R rows per partition
            # at 1M × 256 / nq=1000 (PLAN.md round 7)
            q, i, ro = topr(
                np.concatenate(out_q),
                np.concatenate(out_id),
                np.concatenate(out_rough),
            )
            buf_q.append(q)
            buf_id.append(i)
            buf_rough.append(ro)
            # bound the worker's buffer: with exhaustive/high-overfetch
            # configs the per-batch top-R trim keeps every row, so holding
            # everything until partition end would be O(partition) memory.
            # Past the budget, compact via the merged top-R; if the trim
            # cannot shrink below it (r larger than the buffer), EMIT —
            # topk_per_group downstream re-trims globally, so extra
            # partial chunks never change results.
            if sum(len(b) for b in buf_q) > _FUSED_FLUSH_ROWS:
                q, i, ro = topr(
                    np.concatenate(buf_q),
                    np.concatenate(buf_id),
                    np.concatenate(buf_rough),
                )
                if len(q) > _FUSED_FLUSH_ROWS:
                    yield pd.DataFrame(
                        {"query_id": q, "orig_id": i, "rough": ro}
                    )
                    buf_q, buf_id, buf_rough = [], [], []
                else:
                    buf_q, buf_id, buf_rough = [q], [i], [ro]
        if not buf_q:
            return
        q, i, ro = topr(
            np.concatenate(buf_q), np.concatenate(buf_id), np.concatenate(buf_rough)
        )
        yield pd.DataFrame({"query_id": q, "orig_id": i, "rough": ro})

    # Partition pruning for free: the probe table is already on the driver,
    # so the probed cluster set costs no extra Spark job.
    index = model.index_df
    if prune_partitions and 2 * len(by_cluster) <= model.n_clusters:
        index = index.filter(F.col("cluster_id").isin(list(by_cluster)))
    return index.mapInPandas(
        score, "query_id bigint, orig_id bigint, rough double"
    )


def exact_rerank(
    model: RaBitQModel,
    shortlist: DataFrame,
    qv: DataFrame,
    metrics: "SearchMetrics | None" = None,
) -> DataFrame:
    """Stage 7: exact squared-L2 over the shortlist — (query_id,
    neighbor_id, dist), dist the deterministic double fold of l2_squared.

    Two physically different plans, bit-identical results
    (tests/test_vecstore.py):

    * base-join (default): shortlist ⋈ base_df on orig_id. The shortlist
      side broadcasts, so the base never shuffles — but the scan is
      O(base): uniformly-spread candidate ids defeat row-group/page
      pruning (measured at 10M x 256: every row group holds candidates at
      1.6% density, so the rerank read the full 10 GB vector column).
    * vec-store (when model.vec_store is set): gather ONLY candidate rows
      from the fixed-width sidecar — O(candidates) reads, the disk
      variant's point-read design (crates/disk/src/cache.rs:115-145). The
      numpy fold mirrors l2_squared exactly: per-element float32→float64
      cast, subtract, square, left-to-right accumulation (pad terms add
      +0.0 and cancel bit-exactly, so the unpadded prefix suffices).

    `metrics.rerank`, when wired, observes `rerank_base_rows` — the rows
    the rerank actually read from base storage (== base row count for the
    join plan, == candidate count for the store plan), making the
    candidate-bound property a measurable artifact line, not a claim.
    """
    store = model.vec_store
    if store is None:
        base = model.base_df
        if metrics is not None:
            base = base.observe(
                metrics.rerank, F.count(F.lit(1)).alias("rerank_base_rows")
            )
        return shortlist.join(base, "orig_id").join(
            F.broadcast(qv), "query_id"
        ).select(
            "query_id",
            F.col("orig_id").alias("neighbor_id"),
            l2_squared(F.col("__qvec"), F.col("vec")).alias("dist"),
        )

    from rabitq_spark.index.vecstore import store_exact_rerank

    return store_exact_rerank(
        shortlist, qv, store, id_col="orig_id", metrics=metrics
    )


def auto_overfetch(model: RaBitQModel, nprobe: int, topk: int) -> int:
    """Scale-aware rerank width: overfetch such that R = overfetch × topk is
    ~2% of the rough-candidate pool, floored at config.overfetch. See
    search() docstring for the 1M-row measurement behind the rule.

    Every extra base bit-plane roughly halves the rerank width the sharper
    estimator needs (scripts/multibit_probe.py at 1M × 256: 1-bit wants
    overfetch 62 for recall 0.971; 4-bit reaches 1.000 at overfetch 8 —
    2%/2^(B−1) of the pool), so both the pool fraction and the floor scale
    down by 2^(bits_per_dim − 1), with an absolute floor of 4."""
    import math

    avg_cluster = (
        model.n_rows / model.n_clusters if model.n_rows else model.n_clusters
    )
    pool = min(nprobe, model.n_clusters) * avg_cluster
    sharp = 2 ** (model.config.bits_per_dim - 1)
    return max(
        math.ceil(model.config.overfetch / sharp),
        math.ceil(0.02 * pool / topk / sharp),
        4,
    )


# Round-12 auto-dispatch floors (guide §1.2: the distributed algorithm
# first). Total pair-scores below these keep the jvm codegen join — the
# Arrow kernels' fixed per-search Python/Arrow round-trip plus per-group
# setup dominates there. Measured on the r12 host: sf0.1 headline geometry
# (~0.9M pairs) jvm wins; 1M×256 1-bit (~31M pairs) fused wins 40.2→33.3 s;
# 10M×256 4-bit (~50M pairs) fastscan wins 8–10× — and the 4-bit value-GEMM
# kernel already wins at ~1 query/cluster (200-query slice at 10M: 12.5 s
# vs jvm 98.2 s), so the multibit floor is lower and geometry-free.
_ARROW_MIN_PAIRS = 8_000_000
_ARROW_MIN_PAIRS_MULTIBIT = 2_000_000
# Byte cap for the probe table the fused path materializes/broadcasts
# (round 12: the 1M-row cap alone was tuned at dim 256 ≈ 160 B/row; a
# small-dim probe table with more rows but fewer bytes is equally safe).
_FUSED_MAX_PROBE_BYTES = 256 << 20

#: Byte budget for the fastscan kernel's unpacked query values (4 bytes per
#: padded dim per probe row). Past it, search() and search_adaptive's waves
#: fall back to the popcount kernel — same plan, identical results.
FASTSCAN_MAX_LUT_BYTES = 256 << 20


def search(
    model: RaBitQModel,
    queries: DataFrame,
    topk: int | None = None,
    nprobe: int | None = None,
    overfetch: int | None = None,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    prune_partitions: bool = True,
    metrics: "SearchMetrics | None" = None,
    impl: str = "auto",
    broadcast_probes: bool = True,
    fused_max_probe_rows: int | None = None,
    fastscan_max_lut_bytes: int | None = None,
    arrow_min_queries_per_cluster: float = 12.0,
    index_predicate=None,
    allowed: "DataFrame | None" = None,
) -> DataFrame:
    """Batch top-k ANN: returns (query_id, neighbor_id, dist, rank).

    Filtered search (two forms, both applied BEFORE the top-R shortlist so
    filtered-out rows never consume rerank slots — post-filtering the final
    top-k would silently shrink result sets):

    * `index_predicate` — a Column/SQL predicate over metadata columns the
      index carries (build_index(attr_cols=...)). The scale path: the
      predicate filters the index SCAN itself (Parquet predicate pushdown,
      zero extra shuffles/joins).
    * `allowed` — a one-column DataFrame of permitted ids, semi-joined
      against the candidate stream. For ad-hoc id sets not materialized in
      the index; costs a join keyed by orig_id (broadcast when small / AQE).

    dist is exact squared L2 in the original space (the reference reranks on
    unrotated base columns — src/rerank.rs:85-90) computed as a deterministic
    double-precision fold, so an exhaustive configuration (nprobe ≥ k,
    overfetch ≥ n/topk) reproduces exact brute-force results bit-for-bit.

    When `overfetch` is not given, the rerank width R = overfetch × topk
    auto-scales with the rough-candidate pool (never below cfg.overfetch).
    Measured at 1M × 256 (scripts/tune_scale_recall.py): recall@10 there is
    ESTIMATOR-bound, not coverage-bound — widening nprobe 31→100 left
    recall at 0.8299 while widening overfetch 16→64 lifted it to 0.9729 at
    equal wall time — so the knob that must grow with data is R, at ~2% of
    the pool. Pool ≈ nprobe × average cluster size, where the average uses
    model.n_rows when the builder recorded it and otherwise n_clusters
    itself (exact under the standard n_clusters ≈ √n sizing).

    Stages 1-4 (probe prep) run on the driver when the search needs the
    probe geometry before its action (an Arrow kernel's gates, or
    partition pruning), `broadcast_probes` is set and the batch fits
    _DRIVER_PROBE_MAX_ROWS probe rows (queries × min(nprobe, n_clusters))
    and _DRIVER_PROBE_MAX_BYTES of query vectors: search() collects the
    query batch once, in one bounded Spark job, and builds both the probe
    table and the rerank's query side from it. Otherwise they run as a
    mapInPandas job (_prepare_probes), inside the action when the search
    needs no geometry; the two routes give bit-identical probe rows.

    `impl` picks the rough-scoring implementation — all three produce
    bit-identical frames (impl-equality tests): "jvm" is the codegen
    broadcast-join plan, "fused" the Arrow popcount kernel, "fastscan" the
    Arrow value-GEMM kernel. The default "auto" (round 12) picks per
    search from the probe geometry: multi-bit codes route to fastscan and
    1-bit codes to fused once the estimated pair-score volume clears the
    measured floors (_ARROW_MIN_PAIRS*); small searches stay on the jvm
    join — see the dispatch block for the measurements. On the driver
    probe route the geometry (probe rows, probed clusters, queries per
    cluster) comes from the driver-held probe frame, so auto dispatch and
    the partition-pruning IN-list launch no Spark job; on the mapInPandas
    route they cost a probe checkpoint plus one collect.
    """
    cfg = model.config
    topk = topk or cfg.topk
    nprobe = nprobe or cfg.nprobe
    if overfetch is None:
        overfetch = auto_overfetch(model, nprobe, topk)

    index = model.index_df
    if index_predicate is not None:
        index = index.filter(index_predicate)
    auto = impl == "auto"
    if auto:
        # Scale-measured kernel dispatch (round 12, guide §1.2/§3.1 —
        # pick the strategy deliberately). Tentative kernel by code width:
        # multi-bit codes go to the value-GEMM fastscan kernel (one float32
        # BLAS call per (cluster, batch) group vs bits×planes unrolled
        # bit_count terms per pair in codegen — measured r11/r12: 10M×256
        # 4-bit, 200-query slice, fastscan 12.5 s vs jvm 98.2 s at ~1
        # query/cluster; 1M×256 4-bit full width 41.8 s vs 116.8 s);
        # 1-bit codes go to the fused popcount kernel (1M×256: fused
        # 33.3 s vs jvm 40.2 s at 31 q/cluster). Both tentative choices
        # are DEMOTED back to the jvm join below when the probe geometry
        # says the per-group Arrow setup cannot amortize (est_pairs /
        # q-per-cluster floors) — every kernel is bit-identical (the
        # impl-equality tests), so dispatch can never change a result row.
        impl = "fastscan" if cfg.bits_per_dim > 1 else "fused"
        if nprobe * 2 > model.n_clusters:
            # High-coverage regime (the same gate that disables partition
            # pruning): the batch scans most of the index, so on the
            # mapInPandas probe route the jvm path pays ZERO driver-side
            # jobs here while resolving the Arrow geometry would add a
            # checkpoint + collect per search — at the sf0.1 headline
            # shape (nprobe 28 of 32 clusters, 2k rows) that job alone is
            # ~10% of the whole search. Coverage this wide on a big index
            # is the cost-rule's brute-force territory anyway
            # (operators/ann.py), so auto keeps the join plan and every
            # remaining auto resolution below coincides with the pruning
            # job the jvm path pays regardless — net added jobs from auto
            # dispatch: zero.
            impl = "jvm"
    if impl in ("fused", "fastscan") and (
        index_predicate is not None or allowed is not None
    ):
        # the fused/fastscan Arrow paths read the unfiltered model tables;
        # filtering is a jvm-plan feature (multi-bit codes are supported —
        # per-plane shift-add in _fused_shortlist)
        impl = "jvm"
    r = max(topk * overfetch, topk)
    prune = prune_partitions and nprobe * 2 <= model.n_clusters
    # The Arrow kernels' gates and the pruning IN-list read the probe
    # geometry before the action. Only then does the mapInPandas route
    # launch jobs in this call (a checkpoint and a collect), so only then
    # does the driver route, whose query collect is a job too, remove one.
    geometry = impl in ("fused", "fastscan") or prune
    probes, frame, qv = _search_probes(
        model, queries, query_id, query_vec, nprobe, broadcast_probes and geometry
    )
    if geometry:
        probes, n_probe_rows, probed_clusters = _probe_geometry(probes, frame)
    if impl in ("fused", "fastscan"):
        # Driver-memory gate: the row cap (round-2) bounded the probe
        # table the fused path materializes. An EXPLICIT caller cap stays a
        # hard row limit (the round-2 contract; tests pin it); the default
        # (None) is rows-OR-bytes aware (round 12): a probe row costs
        # theta_log_dim × n_words packed-plane int64s plus ~32 B of scalars
        # — at dim 64 that is ~64 B/row, 8× under the dim-256 geometry the
        # 1M-row cap was tuned on — so a small-dim table with more rows but
        # fewer bytes stays eligible.
        per_probe_row_bytes = cfg.theta_log_dim * model.n_words * 8 + 32
        if fused_max_probe_rows is not None:
            over_cap = n_probe_rows > fused_max_probe_rows
        else:
            over_cap = (
                n_probe_rows > 1_000_000
                and n_probe_rows * per_probe_row_bytes > _FUSED_MAX_PROBE_BYTES
            )
        if over_cap:
            impl = "jvm"
        elif auto:
            # Total-work floor (round 12): the Arrow kernels pay a fixed
            # Python/Arrow round-trip per search plus per-group setup;
            # below a few million pair-scores the jvm codegen join wins on
            # fixed overhead regardless of geometry (sf0.1 headline
            # geometry ≈ 0.9M pairs: jvm is the measured winner; 1M probe
            # ≈ 31M pairs: fused wins; 10M probe ≈ 50M: fastscan wins
            # 8–10×). avg cluster size uses model.n_rows when the builder
            # recorded it, else n_clusters (exact under k ≈ √n sizing).
            avg_cluster = (
                model.n_rows / max(model.n_clusters, 1)
                if model.n_rows
                else float(model.n_clusters)
            )
            est_pairs = n_probe_rows * avg_cluster
            if cfg.bits_per_dim > 1:
                # value-GEMM fastscan amortizes at ~1 query/cluster (the
                # 10M slice measurement above) — only the total-work floor
                # applies
                if est_pairs < _ARROW_MIN_PAIRS_MULTIBIT:
                    impl = "jvm"
            else:
                q_per_cluster = n_probe_rows / max(len(probed_clusters), 1)
                if (
                    est_pairs < _ARROW_MIN_PAIRS
                    or q_per_cluster < arrow_min_queries_per_cluster
                ):
                    impl = "jvm"
        else:
            if arrow_min_queries_per_cluster > 0:
                # Geometry dispatch (measured at 10M x 256, 0.5% coverage,
                # r9): the Arrow kernels pay a per-(cluster, batch)-group
                # setup (pandas group materialization, LUT build/gather)
                # that needs enough probing queries per cluster to amortize
                # — at ~6.4 queries/cluster the jvm codegen join won 18.5 s
                # vs fused 55.4 / fastscan 76.5; at 31 queries/cluster
                # fused won 7.3 s vs jvm 12.5 (1M probe). Threshold 12 sits
                # between the two measured regimes; kernel-pinning tests/
                # benches pass 0 to force the Arrow path.
                if n_probe_rows < arrow_min_queries_per_cluster * len(
                    probed_clusters
                ):
                    impl = "jvm"
        if impl == "fastscan" and (
            model.dim_pad
            * ((1 << cfg.theta_log_dim) - 1)
            * ((1 << cfg.bits_per_dim) - 1)
            >= 1 << 24
        ):
            # fastscan's float32 value GEMM is integer-exact only while
            # partial sums stay under 2^24 (every product is bounded by
            # (2^P−1)(2^B−1) — see value_gemm_asym); past the bound use
            # the popcount kernel — same fused plan, same results
            impl = "fused"
        if fastscan_max_lut_bytes is None:
            fastscan_max_lut_bytes = FASTSCAN_MAX_LUT_BYTES
        if impl == "fastscan" and (
            n_probe_rows * 4 * model.dim_pad > fastscan_max_lut_bytes
        ):
            # the unpacked query values cost 4 bytes/dim per probe row
            # (float32; vs 0.5 for the packed planes — 8×). They are
            # built lazily executor-side with a 64 MB per-worker cache,
            # so past this TOTAL byte budget most groups would rebuild
            # them every batch — fall back to the popcount kernel,
            # which shares every other property of the fused plan
            impl = "fused"
    if impl in ("fused", "fastscan"):
        # Stages 5-6 fused in one Arrow pass (see _fused_shortlist) over
        # the driver-held probe frame (collected here on the mapInPandas
        # route); it derives partition pruning from the frame, so no
        # separate pruning job here. impl="fastscan" swaps
        # the popcount estimator kernel for the unpacked-value GEMM
        # (value_gemm_asym) — identical results (impl-equality test),
        # faster on large clusters.
        local = _fused_shortlist(
            model,
            frame if frame is not None else probes.toPandas(),
            r,
            cfg.theta_log_dim,
            prune_partitions=prune_partitions,
            kernel="fastscan" if impl == "fastscan" else "popcount",
        )
        if metrics is not None and metrics.observe_rough:
            local = local.observe(
                metrics.rough, F.count(F.lit(1)).alias("rough_count")
            )
        shortlist = topk_per_group(
            local, ["query_id"], [F.col("rough").asc(), F.col("orig_id").asc()], r
        ).select("query_id", "orig_id")
    else:
        if prune:
            # Static partition pruning: the probed cluster set is tiny (≤ nq ×
            # nprobe); pushing it into the scan as an IN-filter prunes Parquet
            # partitions — the analogue of the reference's CSR offsets scan
            # (src/rabitq.rs:348). For very large query batches, skip (all
            # clusters probed anyway). The set comes from _probe_geometry.
            index = index.filter(F.col("cluster_id").isin(probed_clusters))
        # Stage 5: J2 equi-join + D5 estimator. Typical query batches make
        # the probe table small → broadcast; a huge batch (probe table
        # ~ nq × nprobe rows, e.g. a full-table similarity join) must
        # instead shuffle BOTH sides by cluster_id (broadcast_probes=False)
        # — the join key is the same either way, and the index side's
        # shuffle is bounded by the pruned posting lists.
        probe_side = F.broadcast(probes) if broadcast_probes else probes
        cand = index.join(probe_side, "cluster_id")
        cand = cand.select(
            "query_id", "orig_id", rough_estimator_expr(model).alias("rough")
        )
        if allowed is not None:
            ok = allowed.select(
                F.col(allowed.columns[0]).alias("orig_id")
            ).distinct()
            cand = cand.join(ok, "orig_id", "left_semi")
        if metrics is not None and metrics.observe_rough:
            # A10 rough-candidate counter (src/metrics.rs analogue, no
            # extra pass — but the CollectMetrics node splits the codegen
            # span; see SearchMetrics.observe_rough for the at-scale cost)
            cand = cand.observe(
                metrics.rough, F.count(F.lit(1)).alias("rough_count")
            )

        # Stage 6: top-R rough per query (WindowGroupLimit ≥ Spark 3.5).
        shortlist = topk_per_group(
            cand, ["query_id"], [F.col("rough").asc(), F.col("orig_id").asc()], r
        ).select("query_id", "orig_id")
    if metrics is not None and metrics.observe_precise:
        # CollectMetrics directly above the top-R filter defeats the
        # WindowGroupLimit pre-shuffle trim at scale — see
        # SearchMetrics.observe_precise for the bisected cost
        shortlist = shortlist.observe(
            metrics.precise, F.count(F.lit(1)).alias("precise_count")
        )

    # Stage 7: exact rerank on original vectors (J3 + D1 + final top-k)
    # against qv, the padded query side (_rerank_queries). When the model
    # carries a vec store, the rerank gathers candidate rows instead of
    # scanning base — see exact_rerank.
    exact = exact_rerank(model, shortlist, qv, metrics=metrics)
    return topk_per_group(
        exact, ["query_id"], [F.col("dist").asc(), F.col("neighbor_id").asc()], topk
    ).select("query_id", "neighbor_id", "dist", "rank")


def range_search(
    model: RaBitQModel,
    queries: DataFrame,
    radius_sq: float,
    nprobe: int | None = None,
    rough_cutoff: bool = True,
    rough_margin: float = 0.0,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    prune_partitions: bool = True,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Radius query: all (query_id, neighbor_id, dist) with exact squared-L2
    dist ≤ `radius_sq` among the probed clusters — the range-query sibling
    of top-k search (not in the reference; standard vector-store surface).

    Same J1→J2→D5→J3 pipeline as search(), but the shortlist step is a
    FILTER, not a top-R window — no per-query state, no window shuffle; the
    exact rerank is bounded by the rough survivors. With `rough_cutoff`
    the estimator screens candidates at `radius_sq + rough_margin`; the
    estimator is a probabilistic lower bound (error-bound slack,
    src/rabitq.rs:352-363), so a nonzero margin trades rerank volume
    against the residual false-negative rate. `rough_cutoff=False` +
    nprobe=n_clusters is the exhaustive configuration: provably equal to
    the brute-force range scan (every candidate reranked exactly).
    """
    cfg = model.config
    nprobe = nprobe or cfg.nprobe
    prune = prune_partitions and nprobe * 2 <= model.n_clusters
    # as in search(): the driver route only where pruning needs the
    # probed cluster set before the action
    probes, frame, qv = _search_probes(
        model, queries, query_id, query_vec, nprobe, broadcast_probes and prune
    )
    index = model.index_df
    if prune:
        probes, _, probed = _probe_geometry(probes, frame)
        index = index.filter(F.col("cluster_id").isin(probed))
    probe_side = F.broadcast(probes) if broadcast_probes else probes
    cand = index.join(probe_side, "cluster_id").select(
        "query_id", "orig_id", rough_estimator_expr(model).alias("rough")
    )
    if rough_cutoff:
        cand = cand.filter(F.col("rough") <= F.lit(radius_sq + rough_margin))

    exact = exact_rerank(model, cand.select("query_id", "orig_id"), qv)
    return exact.filter(F.col("dist") <= F.lit(radius_sq))
