"""The benchmark's workloads, each driving the public API of
``bitfilters_spark`` with inputs generated from a seed.

Every workload has the same shape:

* ``generate()`` builds the inputs (may be called more than once; each call
  replaces the previous inputs with identical ones);
* ``prepare(i)`` makes op ``i``'s fresh input, outside the timed region;
* ``run(i, tracer)`` is the timed operation. With a tracer it also times the
  layer calls the operation is made of, each in its own span;
* ``check(i, result)`` compares the result with a numpy oracle and returns
  True when it is correct. On fixed ops (warm-up ops, or the first traced
  op) it also records the filter-quality counts, so those repeat exactly
  for a seed whatever the run length;
* ``measure_quality()`` records quality counts that need no op result.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bitfilters_spark.core import bloom as B
from bitfilters_spark.core import fuse as FU
from bitfilters_spark.core import quotient as Q
from bitfilters_spark.core import xor as X
from bitfilters_spark.functions import build_filters_multi, probe_filter, spark_hash64
from bitfilters_spark.plans import filter_join as FJ
from bitfilters_spark.plans.filter_join import bloom_prefiltered_join
from bitfilters_spark.streaming import filter_build as SFB
from bitfilters_spark.streaming import state_io

# kernel builders and probes for the four kinds the per-layer metrics name;
# a builder gets the key hashes and the functions-layer filter of its kind,
# from which duckdb_bloom takes its size
QF_Q, QF_R = 18, 6
CORE_BUILD = {
    "xor8": lambda h, ref: X.xor_build(h, 8),
    "fuse8": lambda h, ref: FU.fuse_build(h, 8),
    "quotient": lambda h, ref: Q.qf_build(h, QF_Q, QF_R),
    "duckdb_bloom": lambda h, ref: B.duckdb_bloom_serialize(
        B.duckdb_bloom_build(h, len(B.duckdb_bloom_deserialize(ref)))
    ),
}
CORE_PROBE = {
    "xor8": X.xor_probe,
    "fuse8": FU.fuse_probe,
    "quotient": Q.qf_probe,
    "duckdb_bloom": B.duckdb_bloom_probe,
}
KINDS = list(CORE_BUILD)


def filter_specs(num_sectors: int) -> list:
    """The same four kinds through the functions layer's one-scan build;
    duckdb_bloom at the size of the plan's filter."""
    return [
        ("xor8", "xor8", {}),
        ("fuse8", "fuse8", {}),
        ("quotient", "quotient", {"q": QF_Q, "r": QF_R}),
        ("duckdb_bloom", "duckdb_bloom", {"num_sectors": num_sectors}),
    ]


SIZES = {
    # prefilter_join: (fact rows, key universe, dim keys)
    # stream_maintain: (keys streamed by the end of the warm-up, seen and
    #   unseen lookups per pre-check, non-member probes for filter_fpr);
    #   1M keys at fpp 0.01 make a 1.2 MB bloom
    "full": {"prefilter_join": (500_000, 2_000_000, 20_000),
             "stream_maintain": (1_000_000, 50_000, 50_000, 1_000_000)},
    "tiny": {"prefilter_join": (20_000, 80_000, 800),
             "stream_maintain": (24_000, 2_000, 2_000, 20_000)},
}


def _u64(a) -> np.ndarray:
    return np.asarray(a, dtype=np.int64).view(np.uint64)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _spark_hashes(df, col: str, keys: np.ndarray) -> np.ndarray:
    """``spark_hash64`` of each of ``keys``, all of which are in ``df[col]``."""
    pdf = df.select(F.col(col).alias("k"), spark_hash64(col).alias("h")).toPandas()
    k, h = pdf["k"].to_numpy(), pdf["h"].to_numpy()
    order = np.argsort(k, kind="stable")
    return h[order][np.searchsorted(k[order], keys)].view(np.uint64)


@dataclass
class Quality:
    """Filter-quality counts of a run."""

    false_pos: int = 0
    nonmember_probes: int = 0
    filter_bits: int = 0
    filter_keys: int = 0
    counts: dict = field(default_factory=dict)

    def fpr(self) -> float:
        return self.false_pos / max(self.nonmember_probes, 1)

    def bits_per_key(self) -> float:
        return self.filter_bits / max(self.filter_keys, 1)


class Workload:
    name = ""
    warmup_ops = 0
    primary_span = "bench.op"  # the span comparable to one untraced op

    probe_keys = 0  # keys each core.probe span covers

    def __init__(self, spark, seed: int, size: str, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work = os.path.join(work_dir, self.name)
        self.params = SIZES[size][self.name]
        self.quality = Quality()
        self.expect_offset = 0  # a test hook: shifts every expected count

    def work_per_op(self) -> int:
        raise NotImplementedError

    def measure_quality(self) -> None:
        """Record quality counts that need no op result."""

    def tracing(self, tracer):
        """Context in which ``run`` may record spans inside library calls."""
        return contextlib.nullcontext()

    def close(self) -> None:
        pass


class PrefilterJoin(Workload):
    """fact JOIN dim through ``plans.bloom_prefiltered_join``; a fresh dim
    each op, about 1% of fact rows matching.

    Warm-up and traced ops run the plan under ``plan_filter_capture``, so
    the filter the plan builds is checked (no false negative on the dim
    keys) and the quality metrics are computed from it: over the warm-up
    ops' dims, which every run reaches."""

    name = "prefilter_join"
    warmup_ops = 5
    primary_span = "plans.prefiltered_join"
    extra_nonmembers = 4_000_000  # random hashes probed per quality dim, besides the universe

    def generate(self) -> None:
        n_fact, universe, _ = self.params
        rng = _rng(self.seed, 0)
        self.fk = rng.integers(0, universe, n_fact, dtype=np.int64)
        self.fv = rng.integers(0, 1 << 20, n_fact, dtype=np.int64)
        path = os.path.join(self.work, "fact.parquet")
        os.makedirs(self.work, exist_ok=True)
        pq.write_table(pa.table({"k": self.fk, "v": self.fv}), path)
        if getattr(self, "fact", None) is not None:
            self.fact.unpersist(blocking=True)
        self.fact = self.spark.read.parquet(path).cache()
        self.fact.count()
        self.cnt = np.bincount(self.fk, minlength=universe)
        self.sum_v = np.bincount(self.fk, weights=self.fv, minlength=universe).astype(np.int64)
        # hash of every key in the universe: fact and dim hashes are lookups
        ids = np.arange(universe, dtype=np.int64)
        self.uh = _spark_hashes(self.spark.range(universe), "id", ids)
        self.fact_h = self.uh[self.fk]
        self.probe_keys = n_fact
        self.plan_blobs = {}  # warm-up op -> (dim keys, the plan's filter)

    def work_per_op(self) -> int:
        return self.params[0]

    def _dim(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        _, universe, n_dim = self.params
        rng = _rng(self.seed, 1, i)
        dk = rng.choice(universe, n_dim, replace=False).astype(np.int64)
        return dk, rng.integers(0, 1 << 20, n_dim, dtype=np.int64)

    def prepare(self, i: int):
        self.dk, self.dv = self._dim(i)
        self.dim = self.spark.createDataFrame(pd.DataFrame({"dk": self.dk, "dv": self.dv}))

    def _join(self):
        row = (
            bloom_prefiltered_join(self.fact, self.dim, "k", "dk")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v") + F.col("dv")).alias("s"))
            .collect()[0]
        )
        return int(row["n"]), int(row["s"] or 0)

    def run(self, i: int, tracer=None):
        if tracer is None and i >= self.warmup_ops:
            return {"join": self._join()}
        captured: list = []
        out = {"captured": captured}
        with plan_filter_capture(captured, tracer):
            if tracer is None:
                out["join"] = self._join()
                return out
            with tracer.span("plans.prefiltered_join"):
                out["join"] = self._join()
        if len(captured) != 1:
            return out  # check() reports the op as failed
        blob = captured[0]
        # layer calls the plan is made of, each on its own for comparison:
        # the probe over the whole fact to a noop sink, the one-scan build of
        # all four kinds, and the kernels on the same key sets
        with tracer.span("functions.probe_filter"):
            (
                probe_filter(self.fact.withColumn("__h", spark_hash64("k")), {(): blob}, "__h")
                .where(F.col("__contains"))
                .write.format("noop").mode("overwrite").save()
            )
        with tracer.span("functions.build_filters_multi"):
            rows = build_filters_multi(
                self.dim.select(spark_hash64("dk").alias("h")), "h",
                filter_specs(len(B.duckdb_bloom_deserialize(blob))),
            ).collect()
        out["multi"] = {r["filter_type"]: bytes(r["filter"]) for r in rows}
        dim_h = self.uh[self.dk]
        core_blobs = dict(out["multi"])
        core_blobs["duckdb_bloom"] = blob  # the kernel probe runs on the plan's filter
        for kind in KINDS:
            with tracer.span(f"core.build.{kind}"):
                CORE_BUILD[kind](dim_h, core_blobs[kind])
            with tracer.span(f"core.probe.{kind}"):
                CORE_PROBE[kind](core_blobs[kind], self.fact_h)
        return out

    def check(self, i: int, res) -> bool:
        n, s = res["join"]
        c = self.cnt[self.dk]
        want_n = int(c.sum()) + self.expect_offset
        want_s = int(self.sum_v[self.dk].sum() + (c * self.dv).sum())
        ok = (n, s) == (want_n, want_s)
        if "captured" not in res:
            return ok
        # the plan built one filter, and it has no false negative on the dim
        # keys; nor has any filter of the one-scan build
        dim_h = self.uh[self.dk]
        if len(res["captured"]) != 1:
            return False
        blob = res["captured"][0]
        ok &= bool(B.duckdb_bloom_probe(blob, dim_h).all())
        if i < self.warmup_ops:
            self.plan_blobs[i] = (self.dk, blob)
        if "multi" in res:
            ok &= sorted(res["multi"]) == sorted(KINDS)
            for kind, b in res["multi"].items():
                ok &= bool(CORE_PROBE[kind](b, dim_h).all())
            # sizes from the first traced op, which every run reaches;
            # duckdb_bloom's is the plan's filter
            sizes = {**{k: len(b) for k, b in res["multi"].items()}, "duckdb_bloom": len(blob)}
            for kind, size in sizes.items():
                self.quality.counts.setdefault(f"filter_bytes.{kind}", [size])
        return ok

    def measure_quality(self) -> None:
        """Filter quality of the plan's filters over the warm-up ops' dims:
        false positives among every universe key outside the dim plus
        random hashes, bits per dim key, and the fact rows the probe keeps."""
        q = self.quality
        if sorted(self.plan_blobs) != list(range(self.warmup_ops)):
            raise RuntimeError("the plan's filter was not captured on every warm-up op")
        for i, (dk, blob) in sorted(self.plan_blobs.items()):
            in_dim = np.zeros(len(self.uh), dtype=bool)
            in_dim[dk] = True
            hits = B.duckdb_bloom_probe(blob, self.uh)
            # random 64-bit hashes: one equal to a dim key's hash has
            # probability ~1e-8 per run, so they are taken as non-members
            extra = _rng(self.seed, 3, i).integers(0, 1 << 64, self.extra_nonmembers, dtype=np.uint64)
            q.false_pos += int((hits & ~in_dim).sum()) + int(B.duckdb_bloom_probe(blob, extra).sum())
            q.nonmember_probes += int((~in_dim).sum()) + len(extra)
            q.filter_bits += 8 * len(blob)
            q.filter_keys += len(dk)
            # fact rows the plan's probe keeps: members and false positives
            q.counts.setdefault("survivors", []).append(int(hits[self.fk].sum()))

    def close(self) -> None:
        if getattr(self, "fact", None) is not None:
            self.fact.unpersist(blocking=True)


@contextlib.contextmanager
def plan_filter_capture(sink: list, tracer=None):
    """Capture the filter ``bloom_prefiltered_join`` builds.

    The plan hands its ``build_filter`` DataFrame to ``probe_filter``, which
    collects it into a blob map at once. The wrapper does that collect
    itself, in a ``functions.build_filter`` span, appends the blob to
    ``sink`` and passes ``probe_filter`` the map, so the plan probes the
    same filter. The plan module looks ``probe_filter`` up in its globals
    at call time."""
    orig = FJ.probe_filter

    def call(df, filters, hash_col, *a, **k):
        with tracer.span("functions.build_filter") if tracer else contextlib.nullcontext():
            if isinstance(filters, DataFrame):
                keys = [c for c in filters.columns if c != "filter"]
                filters = {tuple(r[c] for c in keys): bytes(r["filter"]) for r in filters.collect()}
        sink.extend(bytes(b) for b in filters.values())
        return orig(df, filters, hash_col, *a, **k)

    FJ.probe_filter = call
    try:
        yield
    finally:
        FJ.probe_filter = orig


class StreamMaintain(Workload):
    """A corpus-wide bloom filter kept current by
    ``streaming.streaming_filter_build``: one micro-batch per op, then a
    pre-check read of the stored blob.

    The warm-up ops stream fresh keys until the filter holds its design
    count ``n``; the timed ops stream keys drawn from those already seen,
    so every op folds a full batch while the filter stays at its design
    load however many ops the run fits."""

    name = "stream_maintain"
    warmup_ops = 5
    primary_span = "bench.op"

    def generate(self) -> None:
        self.close()
        shutil.rmtree(self.work, ignore_errors=True)
        self.src = os.path.join(self.work, "in")
        self.staging = os.path.join(self.work, "staging")
        self.store = os.path.join(self.work, "store", "corpus.bloom")
        for d in (self.src, self.staging):
            os.makedirs(d)
        # n = distinct keys streamed, all of them by the end of the warm-up:
        # the filter reaches its design load (fpp 0.01) there and stays at it
        self.n_design = self.params[0]
        self.batch = self.n_design // self.warmup_ops
        self.seen = np.zeros(self.batch * self.warmup_ops, dtype=np.int64)
        stream = self.spark.readStream.schema("h long").parquet(self.src)
        self.query = (
            SFB.streaming_filter_build(stream, "h", self.store, kind="bloom", n=self.n_design, fpp=0.01)
            .option("checkpointLocation", os.path.join(self.work, "ckpt"))
            .start()
        )

    def work_per_op(self) -> int:
        return self.batch

    def prepare(self, i: int):
        _, n_seen, n_unseen, _ = self.params
        rng = _rng(self.seed, 1, i)
        if i < self.warmup_ops:
            keys = rng.integers(-(1 << 63), (1 << 63) - 1, self.batch, dtype=np.int64, endpoint=True)
            self.seen[i * self.batch : (i + 1) * self.batch] = keys
            n_streamed = (i + 1) * self.batch
        else:
            n_streamed = len(self.seen)
            keys = self.seen[rng.choice(n_streamed, self.batch, replace=False)]
        self.staged = os.path.join(self.staging, f"batch-{i:05d}.parquet")
        pq.write_table(pa.table({"h": keys}), self.staged)
        self.lookup_seen = self.seen[rng.choice(n_streamed, n_seen, replace=False)]
        # fresh random 64-bit keys: one colliding with a streamed key has
        # probability ~1e-8 per run, so they are taken as non-members
        self.lookup_unseen = rng.integers(-(1 << 63), (1 << 63) - 1, n_unseen, dtype=np.int64, endpoint=True)

    def _batch(self) -> None:
        os.rename(self.staged, os.path.join(self.src, os.path.basename(self.staged)))
        self.query.processAllAvailable()

    def _precheck(self, tracer=None):
        blob = SFB.load_filter_blob(self.store)
        probes = _u64(np.concatenate([self.lookup_seen, self.lookup_unseen]))
        if tracer is None:
            return blob, B.bloom_probe(blob, probes)
        with tracer.span("core.bloom_probe"):
            return blob, B.bloom_probe(blob, probes)

    def run(self, i: int, tracer=None):
        if tracer is None:
            self._batch()
            blob, hits = self._precheck()
            return {"blob": blob, "hits": hits}
        with tracer.span("streaming.batch"):
            self._batch()
        with tracer.span("streaming.precheck"):
            blob, hits = self._precheck(tracer)
        return {"blob": blob, "hits": hits}

    def tracing(self, tracer):
        return stream_tracing(tracer)

    def check(self, i: int, res) -> bool:
        blob, hits = res["blob"], res["hits"]
        n_seen = len(self.lookup_seen)
        progress = self.query.lastProgress or {}
        ok = self.query.exception() is None and blob is not None
        # one micro-batch per op, folding exactly the staged keys
        ok &= progress.get("batchId") == i
        ok &= progress.get("numInputRows") == self.batch + self.expect_offset
        ok &= bool(hits[:n_seen].all())
        if i == self.warmup_ops - 1:
            # quality at design load: fresh random keys are non-members
            # (a collision with a streamed key has probability ~1e-7)
            rng = _rng(self.seed, 2)
            probes = rng.integers(0, 1 << 64, self.params[3], dtype=np.uint64, endpoint=False)
            q = self.quality
            q.false_pos = int(B.bloom_probe(blob, probes).sum())
            q.nonmember_probes = len(probes)
            words, m, _ = B.bloom_deserialize(blob)
            q.filter_bits = m
            q.filter_keys = len(self.seen)
            q.counts["blob_bytes"] = [len(blob)]
            q.counts["fill_ratio"] = [int(np.unpackbits(words.view(np.uint8)).sum()) / m]
        return ok

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None:
            q.stop()
            self.query = None


@contextlib.contextmanager
def stream_tracing(tracer):
    """Spans inside the streaming fold. ``streaming_filter_build``'s
    micro-batch callback looks its helpers up in module globals at call
    time, so wrapping those globals times each step without changing what
    the callback does. ``build_filter`` returns a lazy DataFrame whose job
    runs at ``collect()``, so the wrapper times that call."""
    saved = {
        (SFB, "build_filter"): SFB.build_filter,
        (SFB, "_merge_blobs"): SFB._merge_blobs,
        (state_io, "read_bytes"): state_io.read_bytes,
        (state_io, "write_bytes"): state_io.write_bytes,
    }

    def timed(span, fn):
        def call(*a, **k):
            with tracer.span(span):
                return fn(*a, **k)
        return call

    class _TimedCollect:
        def __init__(self, df):
            self.collect = timed("functions.build_filter", df.collect)

    orig_build = SFB.build_filter
    SFB.build_filter = lambda *a, **k: _TimedCollect(orig_build(*a, **k))
    SFB._merge_blobs = timed("core.bloom_merge", SFB._merge_blobs)
    state_io.read_bytes = timed("streaming.state_io_read", state_io.read_bytes)
    state_io.write_bytes = timed("streaming.state_io_write", state_io.write_bytes)
    try:
        yield
    finally:
        for (mod, attr), fn in saved.items():
            setattr(mod, attr, fn)


WORKLOADS = {w.name: w for w in (PrefilterJoin, StreamMaintain)}
