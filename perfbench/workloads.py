"""The benchmark workloads, each driven through the engine's public API by
one closed-loop client: an op starts only after the previous one returned.

A workload has a set-up step, a fixed op schedule, and a check of every
op's output against numpy ground truth. Ops are grouped in cycles; a run
stops only at a cycle boundary, so every run has the same read/write mix.
"""

from __future__ import annotations

import dataclasses
import math
import re

import numpy as np

import gen
import stats

K = 10  # neighbours per query


class CheckFailed(Exception):
    """An op returned, but its output is wrong."""


@dataclasses.dataclass
class OpResult:
    index: int  # negative for warm-up ops
    kind: str
    dur_s: float
    items: int
    traced: bool
    recall: float | None = None
    error: str | None = None
    layer: dict = dataclasses.field(default_factory=dict)


def check_search(rows, query_ids, qvecs, live: gen.LiveBase) -> list[list[int]]:
    """Check one search result; return the neighbour ids per query in order.

    Per query: exactly K rows, ranks 1..K, distinct ids that are live in the
    current base, dist ascending, and each dist equal to numpy's exact
    squared L2 of that pair."""
    by_q: dict[int, list] = {int(q): [] for q in query_ids}
    for r in rows:
        if int(r["query_id"]) not in by_q:
            raise CheckFailed(f"unknown query_id {r['query_id']}")
        by_q[int(r["query_id"])].append(r)
    found = []
    for q, vec in zip(query_ids, qvecs):
        rs = sorted(by_q[int(q)], key=lambda r: r["rank"])
        if len(rs) != K or [r["rank"] for r in rs] != list(range(1, K + 1)):
            raise CheckFailed(f"query {q}: {len(rs)} rows / ranks {[r['rank'] for r in rs]}")
        ids = np.array([r["neighbor_id"] for r in rs], np.int64)
        dist = np.array([r["dist"] for r in rs], np.float64)
        if len(set(ids.tolist())) != K:
            raise CheckFailed(f"query {q}: duplicate neighbour ids {ids.tolist()}")
        if ids.min() < 0 or ids.max() >= len(live.alive) or not live.alive[ids].all():
            raise CheckFailed(f"query {q}: ids not in the current base {ids.tolist()}")
        if np.any(np.diff(dist) < 0):
            raise CheckFailed(f"query {q}: dist not ascending {dist.tolist()}")
        exact = live.sq_l2(vec, ids)
        if not np.allclose(dist, exact, rtol=1e-9, atol=1e-9):
            raise CheckFailed(f"query {q}: dist {dist.tolist()} != exact {exact.tolist()}")
        found.append(ids.tolist())
    return found


# A Python UDF that takes the codes as input scores rough distances.
_ARROW_KERNEL = re.compile(r"MapInPandas \w+\([^)]*\bcode#")


class Workload:
    """Base: subclasses set the geometry and implement setup and op."""

    name = ""
    cycle: tuple[str, ...] = ()  # op kinds of one cycle
    primary = ""  # the op kind op_ms_p50 and recall describe
    warmup_ops = 1  # untimed primary ops after set-up
    min_cycles = 1  # timed cycles per run at least; set so that this decides
    recall_floor = 0.0

    def __init__(self, ctx):
        self.ctx = ctx  # seed, trace, data_dir; spark and tracer once started

    @property
    def spark(self):
        return self.ctx.spark

    def span(self, name, op=None, group=False):
        return self.ctx.tracer.span(name, op=op, group=group)

    def input_key(self) -> str:
        """Names the generated inputs: a run regenerates them when the seed
        or any size changes."""
        return f"{self.name}-seed{self.ctx.seed}-{self.sizes()}"

    def traced_now(self, kind: str, n_kind: int) -> bool:
        """In a traced run primary ops alternate traced / untraced, so the
        same run measures the tracing overhead; other ops are always
        traced."""
        if not self.ctx.trace:
            return False
        return kind != self.primary or n_kind % 2 == 0


class VectorWorkload(Workload):
    n_base = dim = n_components = bits = batch = n_batches = 0
    n_replace = n_add = n_upserts = 0

    def __init__(self, ctx):
        super().__init__(ctx)
        self.inputs = gen.VectorInputs(
            ctx.seed, self.n_base, self.dim, self.n_components, self.batch,
            self.n_batches, self.n_replace, self.n_add, self.n_upserts,
        )
        self.n_clusters = max(1, round(math.sqrt(self.n_base)))
        self.nprobe = max(1, self.n_clusters // 32)

    def sizes(self) -> str:
        return (f"{self.n_base}x{self.dim}m{self.n_components}q{self.batch}x{self.n_batches}"
                f"u{self.n_replace}+{self.n_add}x{self.n_upserts}")

    def generate(self) -> None:
        self.paths = self.inputs.write(self.ctx.data_dir)
        self.live = gen.LiveBase(
            self.inputs.base(), self.n_base + self.n_add * self.n_upserts
        )
        self.qvecs = {}

    def setup(self) -> None:
        from pyspark.sql import functions as F
        from rabitq_spark.config import RaBitQConfig
        from rabitq_spark.index.build import build_index

        cfg = RaBitQConfig(
            n_clusters=self.n_clusters, nprobe=self.nprobe, bits_per_dim=self.bits,
            topk=K, seed=self.ctx.seed,
        )
        base = self.spark.read.parquet(self.paths["base"])
        with self.span("build.train", group=True):
            model = build_index(base, cfg, id_col="id", vec_col="vec", dim=self.dim,
                                n_rows=self.n_base)
        with self.span("build.quantize", group=True):
            index_df, base_df = model.index_df.cache(), model.base_df.cache()
            index_df.count()
            base_df.count()
        self.model = dataclasses.replace(model, index_df=index_df, base_df=base_df)
        queries = self.spark.read.parquet(self.paths["queries"])
        self.queries = lambda b: queries.filter(F.col("batch") == b).select(
            F.col("id").alias("query_id"), F.col("vec").alias("qvec")
        )

    def _query_batch(self, b: int):
        if b not in self.qvecs:
            self.qvecs[b] = self.inputs.queries(b)
        return self.qvecs[b]

    def _search(self, op, qdf, res: OpResult, observe: bool):
        """One search() plus collect, inside the current op span."""
        from rabitq_spark.index.search import search
        from rabitq_spark.metrics import SearchMetrics

        metrics = SearchMetrics() if observe else None
        with self.span("search.call", op, group=res.traced) as call:
            df = search(self.model, qdf, metrics=metrics)
        with self.span("search.action", op, group=res.traced) as action:
            rows = df.collect()
        if res.traced:
            res.layer["search.call"] = call
            res.layer["search.action"] = action
            res.layer["search.arrow_kernel"] = int(bool(_ARROW_KERNEL.search(
                df._jdf.queryExecution().executedPlan().toString()
            )))
            if metrics is not None:
                res.layer["search.rough"] = metrics.rough_count
                res.layer["search.precise"] = metrics.precise_count
        return rows

    def lookup(self, i: int, kind: str, b: int, traced: bool) -> OpResult:
        ids, vecs = self._query_batch(b)
        res = OpResult(i, kind, 0.0, len(ids), traced)
        with self.span(f"op.{kind}", op=i) as sp:
            rows = self._search(i, self.queries(b), res, observe=traced)
        res.dur_s = sp["dur"]
        found = check_search(rows, ids, vecs, self.live)
        res.recall = stats.recall_at_k(found, self.live.exact_topk(vecs, K).tolist())
        if res.recall < self.recall_floor:
            raise CheckFailed(f"recall@{K} {res.recall:.4f} below floor {self.recall_floor}")
        return res


class Batch1Bit(VectorWorkload):
    """1,000-query batches against a 1-bit index."""

    name = "batch_1bit"
    cycle = ("batch",)
    primary = "batch"
    min_cycles = 3
    n_base, dim, n_components, bits = 10_000, 128, 64, 1
    batch, n_batches = 1_000, 16
    recall_floor = 0.6

    def op(self, i: int, kind: str, n_kind: int) -> OpResult:
        return self.lookup(i, kind, (i + 1) % self.n_batches,
                           self.traced_now(kind, n_kind))


class Online4Bit(VectorWorkload):
    """10-query lookups against a 4-bit index, with an upsert of 1,000 rows
    (500 replaced ids, 500 new ids) every fourth op; each op uses the model
    the previous op returned."""

    name = "online_4bit"
    cycle = ("lookup", "lookup", "lookup", "upsert")
    primary = "lookup"
    warmup_ops = 2
    min_cycles = 3
    n_base, dim, n_components, bits = 10_000, 128, 64, 4
    batch, n_batches = 10, 64
    n_replace, n_add, n_upserts = 500, 500, 16
    recall_floor = 0.6
    n_ryw = 10  # upserted vectors searched right after each upsert

    def setup(self) -> None:
        from pyspark.sql import functions as F

        super().setup()
        upserts = self.spark.read.parquet(self.paths["upserts"])
        self.upserts = lambda j: upserts.filter(F.col("batch") == j).select("id", "vec")

    def op(self, i: int, kind: str, n_kind: int) -> OpResult:
        if kind == "lookup":
            return self.lookup(i, kind, (i + 1) % self.n_batches,
                               self.traced_now(kind, n_kind))
        from pyspark.sql import functions as F
        from rabitq_spark.index.build import upsert_into_index

        j = n_kind % self.n_upserts
        ids, vecs = self.inputs.upsert(j)
        half = self.n_ryw // 2
        pick = np.r_[0:half, self.n_replace : self.n_replace + half]
        qids, qvecs = ids[pick], vecs[pick]
        qdf = self.upserts(j).filter(F.col("id").isin(qids.tolist())).select(
            F.col("id").alias("query_id"), F.col("vec").alias("qvec")
        )
        res = OpResult(i, kind, 0.0, len(qids), self.traced_now(kind, n_kind))
        with self.span("op.upsert", op=i) as sp:
            with self.span("upsert.call", i, group=res.traced) as call:
                self.model = upsert_into_index(self.model, self.upserts(j),
                                               id_col="id", vec_col="vec")
            rows = self._search(i, qdf, res, observe=False)
        res.dur_s = sp["dur"]
        self.live.upsert(ids, vecs)
        if res.traced:
            from tracing import plan_nodes

            res.layer["upsert.call"] = call
            res.layer["upsert.plan_nodes"] = plan_nodes(self.model.index_df) + plan_nodes(
                self.model.base_df
            )
        found = check_search(rows, qids, qvecs, self.live)
        for q, f in zip(qids, found):
            top = next(r for r in rows if r["query_id"] == q and r["rank"] == 1)
            if f[0] != q or top["dist"] != 0.0:
                raise CheckFailed(f"upserted id {q} not its own top-1 at 0: {f[0]}, {top['dist']}")
        return res


class DedupMinhash(Workload):
    """Minhash near-duplicate pairs over a cached synthetic corpus."""

    name = "dedup_minhash"
    cycle = ("dedup",)
    primary = "dedup"
    warmup_ops = 4  # passes speed up about twofold over the first ten
    min_cycles = 8
    n_docs, n_tokens, vocab, dup_share, cap = 20_000, 40, 4_096, 0.1, 40
    recall_floor = 0.95

    def sizes(self) -> str:
        return f"{self.n_docs}x{self.n_tokens}v{self.vocab}d{self.dup_share}c{self.cap}"

    def generate(self) -> None:
        self.corpus = gen.DedupCorpus(self.ctx.seed, self.n_docs, self.n_tokens,
                                      self.vocab, self.dup_share, self.cap)
        self.path = self.corpus.write(self.ctx.data_dir)
        self.planted = self.corpus.planted_pairs()

    def setup(self) -> None:
        with self.span("corpus.load", group=True):
            self.docs = self.spark.read.parquet(self.path).cache()
            self.docs.count()

    def op(self, i: int, kind: str, n_kind: int) -> OpResult:
        from rabitq_spark.operators.dedup import neardup_minhash_pairs

        res = OpResult(i, kind, 0.0, self.n_docs, self.traced_now(kind, n_kind))
        with self.span("op.dedup", op=i) as sp:
            with self.span("dedup.call", i, group=res.traced) as call:
                pairs = neardup_minhash_pairs(self.docs, id_col="doc_id", text_col="text")
            with self.span("dedup.action", i, group=res.traced) as action:
                rows = pairs.select("id_a", "id_b").collect()
        res.dur_s = sp["dur"]
        if res.traced:
            res.layer.update({"dedup.call": call, "dedup.action": action,
                              "dedup.pairs_out": len(rows)})
        found = {(int(r["id_a"]), int(r["id_b"])) for r in rows}
        if len(found) != len(rows):
            raise CheckFailed(f"{len(rows) - len(found)} duplicate pairs")
        bad = [p for p in found if not p[0] < p[1]]
        if bad:
            raise CheckFailed(f"pairs without id_a < id_b: {bad[:5]}")
        stray = found - self.planted
        if stray:
            raise CheckFailed(f"{len(stray)} pairs that were not planted: {sorted(stray)[:5]}")
        res.recall = stats.pair_recall(found, self.planted)
        if res.recall < self.recall_floor:
            raise CheckFailed(f"pair recall {res.recall:.4f} below floor {self.recall_floor}")
        return res


WORKLOADS = {w.name: w for w in (Batch1Bit, Online4Bit, DedupMinhash)}
