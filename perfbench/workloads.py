"""The three workloads.  Each job is one closed-loop request: the next job
starts only after the previous one has returned its result.

With tracing on, every call into a library layer runs inside a span and its
output is forced (``localCheckpoint`` for intermediates, ``collect`` for
results) so the span covers that layer's execution; the next layer then
reads the forced output.  With tracing off the same calls compose lazily
into the plans a user would run.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from hg64spark import agg, relational, transcripts
from hg64spark.checkpoint import CheckpointedSketchAgg
from hg64spark.hg64 import HG64
from hg64spark.sketches.bloom import Bloom
from hg64spark.sketches.cms import CMS
from hg64spark.sketches.hll import HLL
from hg64spark.sketches.kll import KLL
from hg64spark.streaming import StreamingSketch

from perfbench import inputs as inp
from perfbench.tracing import Tracer, plan_counters

HLL_P = 14
CMS_WIDTH, CMS_DEPTH = 4096, 5
BLOOM_BITS, BLOOM_HASHES = Bloom.params_for_capacity(inp.N_CONVS, 0.01)
KLL_K = 200


def _qkey(q) -> str:
    return repr(float(q))


def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                continue
    return total


class Workload:
    """Shared plumbing: forced stages under spans, result checks, and the
    largest relative quantile error seen."""

    name = ""
    #: jobs in one complete rotation; runs measure whole rotations
    round_size = 1
    #: untimed jobs before measuring, run on one input file
    warmup_jobs = 1

    def __init__(self, spark, data: inp.Inputs, work: str, tracer: Tracer):
        self.spark = spark
        self.data = data
        self.work = work
        self.tracer = tracer
        self.relerr_max = 0.0
        #: while set, jobs read only the first of whatever files they pick
        self.warming = False
        #: per traced job, layer state counts taken after the job
        self.counts: list[dict] = []
        self._checked: dict[str, list[str]] = {}

    # --------------------------------------------------------- execution

    def stage(self, name: str, df):
        """An intermediate layer output: lazy untraced; forced under a span
        when tracing."""
        if not self.tracer.enabled:
            return df
        with self.tracer.span(name) as c:
            out = df.localCheckpoint(eager=True)
            c.update(plan_counters(df))
        return out

    def collect(self, name: str, make_df, **counters) -> list:
        """A result: ``make_df()`` builds the frame (some builders already
        run jobs) and ``collect`` returns its rows."""
        if not self.tracer.enabled:
            return make_df().collect()
        with self.tracer.span(name, **counters) as c:
            df = make_df()
            rows = df.collect()
            c.update(plan_counters(df))
        return rows

    def pick(self, files: list[str]) -> list[str]:
        return files[:1] if self.warming else files

    def read(self, files: list[str]):
        return self.spark.read.parquet(*files)

    # ------------------------------------------------------------ checks

    def check(self, i: int, result) -> list[str]:
        """Error strings for job ``i``'s result (empty when correct).
        Identical results are checked once."""
        key = _digest((i % self.round_size, result))
        if key not in self._checked:
            self._checked[key] = self._check(i, result)
        return self._checked[key]

    def _check(self, i: int, result) -> list[str]:
        raise NotImplementedError

    def _quantiles(self, got: dict, pair: dict, what: str) -> list[str]:
        """Bit-for-bit against the SQL oracle, and within 2^-sigbits
        relative error of the exact order statistic (the largest error seen
        feeds ``relerr_max``)."""
        errs = []
        if got != pair["sketch"]:
            bad = [g for g in pair["sketch"] if got.get(g) != pair["sketch"][g]]
            errs.append(f"{what}: {len(bad)} groups differ from the SQL oracle (e.g. {bad[:3]})")
        worst = 0.0
        for g, qs in got.items():
            for q, v in qs.items():
                exact = pair["exact"].get(g, {}).get(q)
                if exact:
                    worst = max(worst, abs(v - exact) / exact)
        if worst > 2.0**-inp.SIGBITS:
            errs.append(f"{what}: quantile relative error {worst:.4f} > 2^-{inp.SIGBITS}")
        self.relerr_max = max(self.relerr_max, worst)
        return errs

    def rows(self, i: int) -> int:
        raise NotImplementedError

    def close(self) -> None:
        pass


def _grouped_rows(rows, group: str | None) -> dict:
    out: dict = {}
    for r in rows:
        g = str(r[group]) if group else ""
        out.setdefault(g, {})[_qkey(r["q"])] = int(r["value"])
    return out


# ======================================================================
# tool_rollup
# ======================================================================


class ToolRollup(Workload):
    """Low-cardinality batch rollups over the whole table; one job answers
    every rollup query in turn."""

    name = "tool_rollup"
    QUERIES = (
        "tool_quantiles",
        "tool_quantiles_relational",
        "textlen_buckets",
        "turn_quantiles",
        "hll_convs",
        "cms_tools",
        "bloom_convs",
    )

    def rows(self, i: int) -> int:
        return self.data.n_rows

    def job(self, i: int) -> dict:
        return {q: self.query(q) for q in self.QUERIES}

    def query(self, kind: str):
        t = self.read(self.pick(self.data.files))
        if kind == "tool_quantiles":
            lat = self.stage("transcripts.with_latency", transcripts.with_latency(t))
            if self.tracer.enabled:
                self.stage("relational.hg64_counts", relational.hg64_counts(lat, "latency_us", ["tool"]))
            sk = self.stage("agg.hg64_agg", agg.hg64_agg(lat, "latency_us", ["tool"]))
            rows = self.collect(
                "agg.hg64_quantiles", lambda: agg.hg64_quantiles(sk, ["tool"], inp.TOOL_QS)
            )
            return _grouped_rows(rows, "tool")
        if kind == "tool_quantiles_relational":
            lat = self.stage("transcripts.with_latency", transcripts.with_latency(t))
            rows = self.collect(
                "relational.quantiles_relational",
                lambda: relational.hg64_quantiles_relational(lat, "latency_us", inp.TOOL_QS, ["tool"]),
            )
            return _grouped_rows(rows, "tool")
        if kind == "textlen_buckets":
            tl = t.select("role", F.length("text").cast("long").alias("text_len"))
            sk = self.stage("agg.hg64_agg", agg.hg64_agg(tl, "text_len", ["role"]))
            rows = self.collect("agg.hg64_buckets", lambda: agg.hg64_buckets(sk, ["role"]))
            return sorted(
                [r["role"], r["key"], r["bucket_min"], r["bucket_max"], r["count"]] for r in rows
            )
        if kind == "turn_quantiles":
            tc = t.groupBy("conv_id").agg(F.count("*").cast("long").alias("n"))
            sk = self.stage("agg.hg64_agg", agg.hg64_agg(tc, "n"))
            rows = self.collect("agg.hg64_quantiles", lambda: agg.hg64_quantiles(sk, [], inp.TURN_QS))
            return _grouped_rows(rows, None)
        if kind == "hll_convs":
            rows = self.collect("relational.hll_agg", lambda: relational.hll_agg_relational(t, "conv_id", p=HLL_P))
        elif kind == "cms_tools":
            rows = self.collect(
                "relational.cms_agg",
                lambda: relational.cms_agg_relational(t, "tool", width=CMS_WIDTH, depth=CMS_DEPTH),
            )
        else:
            rows = self.collect(
                "relational.bloom_agg",
                lambda: relational.bloom_agg_relational(t, "conv_id", BLOOM_BITS, BLOOM_HASHES),
            )
        return bytes(rows[0]["sketch"])

    def _check(self, i: int, result: dict) -> list[str]:
        return [e for kind in self.QUERIES for e in self._check_query(kind, result[kind])]

    def _check_query(self, kind: str, result) -> list[str]:
        o = self.data.oracle
        if kind in ("tool_quantiles", "tool_quantiles_relational"):
            return self._quantiles(result, o["tool_q"], kind)
        if kind == "turn_quantiles":
            return self._quantiles(result, o["turn_q"], kind)
        if kind == "textlen_buckets":
            return [] if result == o["textlen_buckets"] else ["textlen_buckets differ from the SQL oracle"]
        if kind == "hll_convs":
            est = HLL.deserialize(result).estimate()
            bound = 3 * HLL.error_bound(HLL_P)
            rel = abs(est - o["n_convs"]) / o["n_convs"]
            return [] if rel <= bound else [f"HLL distinct {est:.0f} vs {o['n_convs']}: {rel:.4f} > {bound:.4f}"]
        if kind == "cms_tools":
            return self._check_cms(result)
        return self._check_bloom(result)

    def _check_cms(self, blob: bytes) -> list[str]:
        o = self.data.oracle
        cms = CMS.deserialize(blob)
        probes = self.spark.createDataFrame([(tl,) for tl in o["tool_counts"]], "tool string")
        est = {
            r["tool"]: r["cms_estimate"]
            for r in relational.cms_estimate_relational(
                probes, "tool", relational.cms_counts_df(self.spark, cms), CMS_WIDTH, CMS_DEPTH
            ).collect()
        }
        slack = cms.epsilon() * o["n_rows"]
        bad = [
            tl for tl, exact in o["tool_counts"].items()
            if not exact <= est.get(tl, -1) <= exact + slack
        ]
        return [f"CMS estimates outside [exact, exact + eN] for {bad}"] if bad else []

    def _check_bloom(self, blob: bytes) -> list[str]:
        bloom = Bloom.deserialize(blob)
        probes = self.read(self.data.files).select("conv_id").distinct()
        missing = (
            relational.bloom_contains_relational(
                probes, "conv_id", relational.bloom_words_df(self.spark, bloom), BLOOM_BITS, BLOOM_HASHES
            )
            .filter(~F.col("bloom_contains"))
            .count()
        )
        return [f"Bloom filter misses {missing} inserted conv_ids"] if missing else []


# ======================================================================
# per_conversation
# ======================================================================


class PerConversation(Workload):
    """High-cardinality work: one hg64 per conversation and per-tool KLL,
    one shard of conversations (a quarter of the files) per job."""

    name = "per_conversation"
    round_size = inp.SHARDS

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.last_blobs: list[bytes] = []
        self.last_kll: list[bytes] = []
        self._sorted: dict = {}

    def rows(self, i: int) -> int:
        return self.data.oracle["shard_rows"][i % self.round_size]

    def job(self, i: int):
        s = i % self.round_size
        lat = self.stage(
            "transcripts.with_latency",
            transcripts.with_latency(self.read(self.pick(inp.shard_files(self.data.files, s)))),
        )
        if self.tracer.enabled:
            self.stage("relational.hg64_counts", relational.hg64_counts(lat, "latency_us", ["conv_id"]))
        sk = self.stage("agg.hg64_agg", agg.hg64_agg(lat, "latency_us", ["conv_id"]))
        groups = 0
        if self.tracer.enabled:
            self.last_blobs = [bytes(r["sketch"]) for r in sk.select("sketch").collect()]
            groups = len(self.last_blobs)
        q_rows = self.collect(
            "agg.hg64_quantiles",
            lambda: agg.hg64_quantiles(sk, ["conv_id"], inp.CONV_QS),
            groups=groups,
        )
        parts = self.stage(
            "agg.sketch_partials",
            agg.sketch_partials(lat, "latency_us", ["tool"], lambda: KLL(KLL_K)),
        )
        kll_rows = self.collect(
            "agg.merge_sketches", lambda: agg.merge_sketches(parts, ["tool"], KLL.deserialize)
        )
        kll = {r["tool"]: bytes(r["sketch"]) for r in kll_rows}
        self.last_kll = list(kll.values())
        return _grouped_rows(q_rows, "conv_id"), kll

    def _check(self, i: int, result) -> list[str]:
        s = i % self.round_size
        quantiles, kll = result
        errs = self._quantiles(quantiles, self.data.oracle["shard_q"][s], f"shard {s} p50/p99")
        eps = KLL.rank_error_bound(KLL_K) + 0.01
        if set(kll) != set(inp.TOOLS):
            errs.append(f"KLL tools {sorted(kll)}")
        for tool, blob in sorted(kll.items()):
            vals = self._sorted_latencies(s, tool)
            est = KLL.deserialize(blob).value_at_quantile(inp.KLL_QS)
            lo = np.searchsorted(vals, est, side="left") / vals.size
            hi = np.searchsorted(vals, est, side="right") / vals.size
            err = np.maximum(0.0, np.maximum(lo - inp.KLL_QS, np.asarray(inp.KLL_QS) - hi))
            if float(err.max()) > eps:
                errs.append(f"KLL {tool} shard {s}: rank error {float(err.max()):.4f} > {eps:.4f}")
        return errs

    def _sorted_latencies(self, s: int, tool: str) -> np.ndarray:
        if s not in self._sorted:
            self._sorted[s] = inp.latency_by_tool(inp.shard_files(self.data.files, s))
        return self._sorted[s][tool]


# ======================================================================
# incremental_ingest
# ======================================================================


class IncrementalIngest(Workload):
    """The write path: the table lands in INGEST_STEPS batches of files per
    pass; each job is one step through the checkpointed batch path and an
    availableNow streaming pass, answered from both."""

    name = "incremental_ingest"
    round_size = inp.INGEST_STEPS
    COMPACT_EVERY = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.root = os.path.join(self.work, "ingest")
        shutil.rmtree(self.root, ignore_errors=True)
        self.schema = self.spark.read.parquet(self.data.files[0]).schema
        self.pass_no = -1
        self.pass_dir = ""

    def rows(self, i: int) -> int:
        return self.data.oracle["step_rows"][i % self.round_size]

    def _new_pass(self) -> None:
        if self.pass_dir:
            shutil.rmtree(self.pass_dir, ignore_errors=True)
        self.pass_no += 1
        self.pass_dir = os.path.join(self.root, f"pass={self.pass_no}")
        self.landing = os.path.join(self.pass_dir, "landing")
        os.makedirs(self.landing)
        self.ckpt = CheckpointedSketchAgg(os.path.join(self.pass_dir, "ckpt"), "latency_us", ["tool"])
        self.stream = StreamingSketch(os.path.join(self.pass_dir, "stream_state"), "latency_us", ["tool"])
        self.stream_ckpt = os.path.join(self.pass_dir, "stream_ckpt")

    def _foreach_batch(self, df, batch_id: int) -> None:
        with self.tracer.span("streaming.foreach_batch"):
            self.stream.foreach_batch(transcripts.with_latency(df), batch_id)

    def job(self, i: int):
        step = i % self.round_size
        if step == 0:
            self._new_pass()
        landed = []
        for f in self.pick(inp.step_files(self.data.files, step)):
            dst = os.path.join(self.landing, os.path.basename(f))
            os.link(f, dst)
            landed.append(os.path.abspath(dst))
        tr = self.tracer
        with tr.span("checkpoint.process"):
            processed = self.ckpt.process(self.spark, landed, derive=transcripts.with_latency)
        if tr.enabled:
            with tr.span("checkpoint.done_files"):
                self.ckpt.done_files(self.spark)
        ck = self.collect("checkpoint.result", lambda: self.ckpt.result(self.spark))
        with tr.span("streaming.pass"):
            query = (
                self.spark.readStream.schema(self.schema)
                .parquet(self.landing)
                .writeStream.foreachBatch(self._foreach_batch)
                .option("checkpointLocation", self.stream_ckpt)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        st = self.collect("streaming.result", lambda: self.stream.result(self.spark))
        if step % self.COMPACT_EVERY == self.COMPACT_EVERY - 1:
            with tr.span("streaming.compact"):
                self.stream.compact(self.spark)
        ck_blobs = {r["tool"]: bytes(r["sketch"]) for r in ck}
        st_blobs = {r["tool"]: bytes(r["sketch"]) for r in st}
        quantiles = {
            tool: {
                _qkey(q): int(v)
                for q, v in zip(
                    inp.TOOL_QS, HG64.deserialize(blob).snapshot().value_at_quantile(inp.TOOL_QS)
                )
            }
            for tool, blob in ck_blobs.items()
        }
        if tr.enabled:
            self.counts.append(self.layer_counts())
        return processed == landed, ck_blobs == st_blobs, quantiles

    def layer_counts(self) -> dict:
        runs = [d for d in os.listdir(self.ckpt.ckpt_dir) if d.startswith("run=")]
        state = self.stream.state_dir
        return {
            "checkpoint_runs": len(runs),
            "checkpoint_state_bytes": du_bytes(self.ckpt.ckpt_dir),
            "streaming_batch_dirs": len(
                [d for d in os.listdir(state) if d.startswith(("batch=", "compacted="))]
            ),
            "streaming_state_bytes": du_bytes(state) + du_bytes(self.stream_ckpt),
        }

    def _check(self, i: int, result) -> list[str]:
        step = i % self.round_size
        replayed_ok, identical, quantiles = result
        errs = []
        if not replayed_ok:
            errs.append(f"step {step}: process() did not build exactly the new files")
        if not identical:
            errs.append(f"step {step}: checkpoint and streaming sketches differ")
        return errs + self._quantiles(quantiles, self.data.oracle["step_q"][step], f"step {step}")

    def resumability_check(self) -> list[str]:
        """A checkpoint run left without ``_SUCCESS`` (a killed job) must be
        replayed by the next ``process()`` — exactly its files — and the
        merged sketches must equal a single-shot build."""
        root = os.path.join(self.work, "resume")
        shutil.rmtree(root, ignore_errors=True)
        ckpt = CheckpointedSketchAgg(os.path.join(root, "ckpt"), "latency_us", ["tool"])
        first, killed = self.data.files[:1], self.data.files[1:2]
        errs = []
        ckpt.process(self.spark, first, derive=transcripts.with_latency)
        before = set(os.listdir(ckpt.ckpt_dir))
        ckpt.process(self.spark, killed, derive=transcripts.with_latency)
        (new_run,) = set(os.listdir(ckpt.ckpt_dir)) - before
        os.remove(os.path.join(ckpt.ckpt_dir, new_run, "_SUCCESS"))
        replayed = ckpt.process(self.spark, first + killed, derive=transcripts.with_latency)
        if replayed != [os.path.abspath(f) for f in killed]:
            errs.append(f"resume replayed {len(replayed)} files, expected exactly the {len(killed)} unfinished")
        merged = {r["tool"]: bytes(r["sketch"]) for r in ckpt.result(self.spark).collect()}
        single = {
            r["tool"]: bytes(r["sketch"])
            for r in agg.hg64_agg(
                transcripts.with_latency(self.read(first + killed)), "latency_us", ["tool"], method="arrow"
            ).collect()
        }
        if merged != single:
            errs.append("resumed checkpoint sketches differ from a single-shot build")
        shutil.rmtree(root, ignore_errors=True)
        return errs

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


WORKLOADS = {w.name: w for w in (ToolRollup, PerConversation, IncrementalIngest)}
