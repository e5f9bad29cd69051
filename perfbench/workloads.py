"""The benchmark workloads, built from parts.

A part wraps one engine entry point. It generates its inputs from the
seed (``generate``: cheap, repeatable, no Spark), stages Spark-side state
once (``stage``), prepares each iteration untimed (``before``: a fresh
output or a fresh copy of the staged state), runs timed (``run``: input
to committed result), checks its outputs (``check``) and, in a traced
iteration, turns its spans into per-layer metrics (``layers``).

A workload runs its parts one after another, closed loop, from one
thread:

- ``turns``: the batch preprocess pipeline, then the live latency ingest
  of one new micro-batch of turns;
- ``corpus``: the curation chain, then one new embedding micro-batch,
  then one day-2 document batch through the incremental near-dup kernels.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

import gen
from spans import MB, Tracer, batch_jobs

from pyspark.sql import Observation
from pyspark.sql import functions as F

# Sizes never depend on the seed. "bench" is the measured scale; "smoke"
# is the sf0.001-sized scale of the smoke check.
SIZES = {
    "bench": {
        "events": 10_000, "stream_events": 2_000,
        "doc_base": 5_000, "doc_replicas": 2, "heldout": 1_000,
        "emb": 200, "dedup_doc_base": 2_000, "dedup_doc_replicas": 1,
    },
    "smoke": {
        "events": 1_000, "stream_events": 1_000,
        "doc_base": 500, "doc_replicas": 2, "heldout": 100,
        "emb": 200, "dedup_doc_base": 500, "dedup_doc_replicas": 1,
    },
}
DOC_FILES = 8  # a documents table arrives as this many parquet files
TURN_FILES = 8  # latency input: turn_idx ranges, 4 files per micro-batch
CHUNK_TOKENS, CHUNK_OVERLAP = 64, 8
LADDER_REPS = 3  # each chain prefix is forced this many times
PIPELINE_SINKS = [
    "template_dim", "routed_turns", "sink_counts", "conv_tool_tfidf", "timedelta_features",
]


@dataclass
class Ctx:
    spark: object
    work: str  # this run's scratch directory inside the checkout
    seed: int
    sizes: dict

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB


def data_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.startswith("part-")
    )


@contextmanager
def patched(cls, attr: str, tracer: Tracer, span_name: str):
    """Wrap the method ``cls.attr`` in a span for the duration of the
    block; its second positional argument names the span's target."""
    orig = getattr(cls, attr)

    def wrapper(self, *args, **kwargs):
        with tracer.span(span_name, target=str(args[1])):
            return orig(self, *args, **kwargs)

    setattr(cls, attr, wrapper)
    try:
        yield
    finally:
        setattr(cls, attr, orig)


def ladder(tracer: Tracer, prefixes: list[tuple[str, object]], rows: bool = False) -> dict:
    """Force each prefix of a fused lazy chain with a noop write, in a
    span each, LADDER_REPS times; the fastest run counts. Returns
    {name: (seconds, StageSum, rows_out or None)}."""
    out = {}
    for name, df in prefixes:
        for rep in range(LADDER_REPS):
            obs = Observation(f"rows_{name}_{rep}".replace(".", "_")) if rows else None
            target = df.observe(obs, F.count(F.lit(1)).alias("n")) if rows else df
            with tracer.span(f"ladder.{name}") as sp:
                noop(target)
            if name not in out or sp.seconds < out[name][0]:
                out[name] = (sp.seconds, sp.attrs["stage_sum"], obs.get["n"] if rows else None)
    return out


def self_times(lad: dict, chain: list[str]) -> dict:
    """Self time of each link: its prefix minus the previous prefix."""
    return {cur: lad[cur][0] - lad[prev][0] for prev, cur in zip(chain, chain[1:])}


def progress(q) -> list[dict]:
    """Progress reports of the micro-batches a query ran."""
    return [b for b in q.recentProgress if "addBatch" in b.get("durationMs", {})]


def release_persisted(spark) -> None:
    """Unpersist every persisted RDD and frame and empty the engine's
    tracked-persist registry: the cleanup run between iterations."""
    from ml4logs_spark import cache

    release = getattr(cache, "release_all", None)
    if release is not None:
        release()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def stream_layers(tracer: Tracer, q, layer: str) -> dict:
    """Per-micro-batch metrics of a streaming query run in this iteration."""
    prog = progress(q)
    per_batch = batch_jobs(tracer.status.jobs_after(tracer.iter_first_job), str(q.runId))
    bjobs = [per_batch.get(b["batchId"], []) for b in prog]
    return {
        f"{layer}.body_ms": statistics.median(b["durationMs"]["addBatch"] for b in prog),
        f"{layer}.overhead_ms": statistics.median(
            b["durationMs"]["triggerExecution"] - b["durationMs"]["addBatch"] for b in prog),
        f"{layer}.jobs_per_batch": statistics.median(len(js) for js in bjobs),
        f"{layer}.tasks_per_batch": statistics.median(
            tracer.status.stage_sum(s for j in js for s in j.stage_ids).tasks for js in bjobs),
    }


class Part:
    key = ""
    # False where stage() already runs the same operators, so the part
    # is warm without running in the warm-up iteration
    warm_up = True

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def inp(self, *parts: str) -> str:
        return self.ctx.path("input", self.key, *parts)

    def out(self, it: int, *parts: str) -> str:
        return self.ctx.path(f"it{it}", self.key, *parts)

    def generate(self, out: str) -> None:
        raise NotImplementedError

    def stage(self) -> None:
        """Spark-side set-up once the inputs exist (default: none)."""

    def before(self, it: int) -> None:
        """Untimed preparation of one iteration (default: none)."""

    def run(self, it: int, tracer: Tracer) -> list[float]:
        """Timed work; returns the commit times (ms) of micro-batches run."""
        raise NotImplementedError

    def check(self, it: int) -> list[str]:
        raise NotImplementedError

    def layers(self, it: int, tracer: Tracer) -> dict:
        raise NotImplementedError


# -------------------------------------------------------------------- turns


class Pipeline(Part):
    """``plans.pipeline.run_pipeline`` over seeded events."""

    key = "pipeline"

    def generate(self, out: str) -> None:
        gen.events(self.ctx.seed, self.ctx.sizes["events"], f"{out}/{self.key}/events.parquet")

    def stage(self) -> None:
        import duckdb

        from ml4logs_spark.datagen.derivation import transcripts_sql
        from ml4logs_spark.oracle.sql import ORACLES

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(f"CREATE VIEW events AS SELECT * FROM "
                        f"read_parquet('{self.inp('events.parquet')}')")
            self.oracle_sinks = {
                (int(b), r): (int(n), int(c))
                for b, r, n, c in con.execute(ORACLES["route_sink_counts"]).fetchall()
            }
            self.n_turns = con.execute(
                f"SELECT count(*) FROM ({transcripts_sql('events')})").fetchone()[0]
        finally:
            con.close()

    def manifest(self, it: int) -> list[dict]:
        with open(self.out(it, "_manifest.jsonl")) as f:
            return [json.loads(line) for line in f if line.strip()]

    def run(self, it: int, tracer: Tracer) -> list[float]:
        from ml4logs_spark.plans.pipeline import run_pipeline
        from ml4logs_spark.sources.manifest import Manifest
        from ml4logs_spark.sources.tables import Warehouse

        if tracer.enabled:
            with patched(Manifest, "run_stage", tracer, "sources.manifest.run_stage"), \
                    patched(Warehouse, "write", tracer, "sources.write"), \
                    tracer.span("plans.pipeline"):
                run_pipeline(self.spark, self.inp(), self.out(it))
        else:
            run_pipeline(self.spark, self.inp(), self.out(it))
        return []

    def corrupt(self, it: int) -> None:
        """Drop one routed row from the committed routed_turns table."""
        import pyarrow.parquet as pq

        for root, _, files in sorted(os.walk(self.out(it, "routed_turns"))):
            for f in sorted(files):
                if f.startswith("part-") and f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    t = pq.read_table(p, partitioning=None)
                    if t.num_rows:
                        pq.write_table(t.slice(1), p)
                        return

    def check(self, it: int) -> list[str]:
        from ml4logs_spark.sources.tables import Warehouse

        errs = []
        sinks = sorted(r["sink"] for r in self.manifest(it) if r.get("status") == "committed")
        if sinks != sorted(PIPELINE_SINKS):
            errs.append(f"committed manifest stages {sinks} != {sorted(PIPELINE_SINKS)}")
        wh = Warehouse(self.spark, self.out(it))
        got = {
            (int(r["template_bucket"]), r["role"]): (int(r["n_rows"]), int(r["n_convs"]))
            for r in wh.read("sink_counts").collect()
        }
        if got != self.oracle_sinks:
            errs.append("sink_counts differ from the DuckDB route_sink_counts oracle")
        n = wh.read("routed_turns").count()
        if n != self.n_turns:
            errs.append(f"routed rows {n} != input turns {self.n_turns}")
        return errs

    def layers(self, it: int, tracer: Tracer) -> dict:
        from ml4logs_spark.datagen import transcripts as tx
        from ml4logs_spark.operators import enrich as enrich_op
        from ml4logs_spark.operators import features as feat
        from ml4logs_spark.operators import parse, route, windows
        from ml4logs_spark.sources.tables import Warehouse

        spans = [s for s in tracer.spans if s.iteration == it]
        stages = [s for s in spans if s.name == "sources.manifest.run_stage"]
        writes = [s for s in spans if s.name == "sources.write"]
        pipe = next(s for s in spans if s.name == "plans.pipeline")
        routed_stage = next(s for s in stages if s.attrs["target"] == "routed_turns")
        lineage = list(next(
            r for r in self.manifest(it) if r["sink"] == "routed_turns"
        )["partition_lineage"].values())

        wh = Warehouse(self.spark, self.out(it))
        turns = tx.transcripts(self.spark, self.inp())
        p_parse = parse.parsed_turns(turns, wh.read("template_dim"))
        p_enrich = enrich_op.enrich(p_parse, tx.role_dim(self.spark), tx.tool_dim(self.spark))
        routed = wh.read("routed_turns")
        counts = feat.conv_tool_counts(routed)
        lad = ladder(tracer, [
            ("source", turns),
            ("parse", p_parse),
            ("enrich", p_enrich),
            ("route", route.with_sink_key(p_enrich).drop("sink_key")),
            ("routed_read", routed),
            ("features", feat.apply_tfidf(counts, feat.fit_idf(counts))),
            ("windows", windows.with_timedeltas(turns).select("conv_id", "turn_idx", "td")),
        ])
        own = self_times(lad, ["source", "parse", "enrich", "route"])

        def write_s(sp):
            return sum(w.seconds for w in writes if w.parent == sp.span_id)

        return {
            "parse.self_s": own["parse"],
            "enrich.self_s": own["enrich"],
            "route.self_s": own["route"],
            "route.shuffle_write_mb": tracer.tree_sum(routed_stage).shuffle_write_mb,
            "route.sink_skew": max(lineage) / statistics.median(lineage),
            "features.self_s": lad["features"][0] - lad["routed_read"][0],
            "features.shuffle_write_mb": (
                lad["features"][1].shuffle_write_mb - lad["routed_read"][1].shuffle_write_mb),
            "windows.self_s": lad["windows"][0] - lad["source"][0],
            "windows.spill_mb": lad["windows"][1].spill_mb,
            "sources.manifest.commit_s": sum(s.seconds - write_s(s) for s in stages),
            "plans.pipeline.self_s": pipe.seconds - sum(s.seconds for s in stages),
            "sources.write_s": sum(w.seconds for w in writes),
            "sources.files_written": data_files(self.out(it)),
        }


class Latency(Part):
    """``streaming.latency.run_latency_ingest`` draining one new micro-batch
    of turns on top of a staged history batch, so turns pair across
    micro-batches through the query's state."""

    key = "latency"
    warm_up = False  # the staged history batch is the same query

    def generate(self, out: str) -> None:
        gen.events(self.ctx.seed + 1_000_003, self.ctx.sizes["stream_events"],
                   f"{out}/{self.key}/events.parquet")

    def stage(self) -> None:
        from ml4logs_spark.datagen import transcripts as tx
        from ml4logs_spark.operators import windows
        from ml4logs_spark.streaming import latency
        from ml4logs_spark.streaming import stream_pipeline as sp

        p = self.ctx.path
        # turn files hold turn_idx ranges in file-name order; the first
        # half is the history batch, the second half arrives every iteration
        turns = tx.transcripts(self.spark, self.inp())
        turns.repartitionByRange(TURN_FILES, "turn_idx").write.parquet(p("turns_all"))
        parts = sorted(f for f in os.listdir(p("turns_all")) if f.startswith("part-"))
        self.in_dir = p("lat_in")
        os.makedirs(self.in_dir)
        for f in parts[: len(parts) // 2]:
            os.rename(p("turns_all", f), os.path.join(self.in_dir, f))
        self.hist = {
            (r["tool"], int(r["bucket_lo"])): int(r["n"])
            for r in windows.tool_latency_histogram_state(turns).collect()
        }
        q = latency.run_latency_ingest(
            sp.stream_transcripts(self.spark, self.in_dir),
            p("snapshot", self.key, "state"), p("snapshot", self.key, "ckpt"))
        q.awaitTermination()
        for f in parts[len(parts) // 2:]:
            os.rename(p("turns_all", f), os.path.join(self.in_dir, f))
        gen.stamp_order([os.path.join(self.in_dir, f) for f in parts])

    def before(self, it: int) -> None:
        shutil.copytree(self.ctx.path("snapshot", self.key), self.out(it))

    def run(self, it: int, tracer: Tracer) -> list[float]:
        from ml4logs_spark.streaming import latency
        from ml4logs_spark.streaming import stream_pipeline as sp

        with tracer.span("streaming.latency"):
            self.q = latency.run_latency_ingest(
                sp.stream_transcripts(self.spark, self.in_dir),
                self.out(it, "state"), self.out(it, "ckpt"))
            self.q.awaitTermination()
        return [float(b["durationMs"]["triggerExecution"]) for b in progress(self.q)]

    def check(self, it: int) -> list[str]:
        from ml4logs_spark.streaming import latency

        errs = []
        if len(progress(self.q)) != 1:
            errs.append(f"latency query ran {len(progress(self.q))} micro-batches, expected 1")
        ledger = {(r["tool"], int(r["bucket_lo"])): int(r["n"])
                  for r in latency.read_latency_state(self.spark, self.out(it, "state")).collect()}
        if ledger != self.hist:
            errs.append("latency ledger != batch windows.tool_latency_histogram_state")
        return errs

    def layers(self, it: int, tracer: Tracer) -> dict:
        out = stream_layers(tracer, self.q, "streaming.latency")
        ops = progress(self.q)[-1].get("stateOperators") or [{}]
        out["streaming.latency.state_rows"] = ops[0].get("numRowsTotal", 0)
        out["streaming.latency.state_mb"] = (
            dir_mb(self.out(it, "ckpt", "state")) + dir_mb(self.out(it, "state")))
        return out


# ------------------------------------------------------------------- corpus


class Curation(Part):
    """``plans.config_runner.run_config``: documents -> curate (bound to a
    held-out set) -> save."""

    key = "curate"
    warm_up = False  # the staged curate_attrition report runs the same operators

    def generate(self, out: str) -> None:
        s = self.ctx.sizes
        gen.documents(self.ctx.seed, s["doc_base"], s["doc_replicas"],
                      f"{out}/{self.key}/docs/documents.parquet", n_files=DOC_FILES)
        gen.heldout(self.ctx.seed, s["heldout"], f"{out}/{self.key}/heldout/documents.parquet")

    def config(self, it: int) -> dict:
        return {
            "input": self.inp("docs"),
            "warehouse": self.out(it),
            "pipeline": [
                {"action": "documents"},
                {"action": "documents", "input": self.inp("heldout"), "out": "heldout"},
                {"action": "curate", "from": "documents", "benchmark": "heldout",
                 "chunk_tokens": CHUNK_TOKENS, "overlap": CHUNK_OVERLAP,
                 "save": True, "out": "curated_chunks"},
            ],
        }

    def inputs(self):
        read = self.spark.read.parquet
        return (read(self.inp("docs", "documents.parquet")),
                read(self.inp("heldout", "documents.parquet")))

    def stage(self) -> None:
        from ml4logs_spark.operators import curate

        att = {r["stage"]: int(r["n_docs"])
               for r in curate.curate_attrition(*self.inputs()).collect()}
        self.expected_docs = att["decontaminated"]
        self.digest = None

    def run(self, it: int, tracer: Tracer) -> list[float]:
        from ml4logs_spark.plans.config_runner import run_config
        from ml4logs_spark.sources.tables import Warehouse

        if tracer.enabled:
            with patched(Warehouse, "write", tracer, "sources.write"), \
                    tracer.span("plans.config_runner"):
                self.result = run_config(self.spark, self.config(it))
        else:
            self.result = run_config(self.spark, self.config(it))
        return []

    def check(self, it: int) -> list[str]:
        errs = []
        chunks = self.spark.read.parquet(self.out(it, "curated_chunks"))
        h = F.xxhash64(*chunks.columns)  # order-independent digest of the rows
        r = chunks.agg(F.count(F.lit(1)), F.bit_xor(h), F.sum(F.pmod(h, F.lit(2_147_483_647))),
                       F.countDistinct("doc_id")).first()
        digest, n_docs = tuple(r[:3]), r[3]
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            errs.append(f"chunk digest {digest} != first iteration's {self.digest}")
        if digest[0] != self.result["curated_chunks"]:
            errs.append(f"run_config reported {self.result['curated_chunks']} committed rows, "
                        f"the table holds {digest[0]}")
        if n_docs != self.expected_docs:
            errs.append(f"committed docs {n_docs} != curate_attrition final count "
                        f"{self.expected_docs}")
        return errs

    def layers(self, it: int, tracer: Tracer) -> dict:
        from ml4logs_spark.operators import dedup, textqa

        writes = [s for s in tracer.spans if s.iteration == it and s.name == "sources.write"]
        docs, held = self.inputs()
        exact = dedup.exact_dedup(docs)
        gate = textqa.quality_filter(
            exact, min_score=0.5, min_tokens=3, max_tokens=10_000, keep_cols=("text",)
        ).select("doc_id", "text")
        decon = dedup.decontaminate(gate, held)
        mask = textqa.mask_pii(decon).select("doc_id", F.col("masked_text").alias("text"))
        chunk = textqa.chunk_documents(mask, chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP)
        chain = ["source", "dedup.exact", "textqa.gate", "dedup.decontaminate",
                 "textqa.mask", "textqa.chunk"]
        lad = ladder(tracer, list(zip(chain, [docs, exact, gate, decon, mask, chunk])), rows=True)
        out = {f"{k}.self_s": v for k, v in self_times(lad, chain).items()}
        out.update({f"{k}.rows_out": lad[k][2] for k in chain[1:]})
        out["dedup.exact.shuffle_write_mb"] = (
            lad["dedup.exact"][1].shuffle_write_mb - lad["source"][1].shuffle_write_mb)
        out["sources.write_s"] = sum(w.seconds for w in writes)
        out["sources.files_written"] = data_files(self.out(it))
        return out


class Embeddings(Part):
    """``streaming.embedding_ingest.run_embedding_ingest`` draining one new
    micro-batch of vectors against the state its staged history batch
    left (frozen quantizer, band and code state)."""

    key = "embeddings"

    def generate(self, out: str) -> None:
        gen.embedding_batches(self.ctx.seed, self.ctx.sizes["emb"], 2, f"{out}/{self.key}")

    def stage(self) -> None:
        from ml4logs_spark.streaming import embedding_ingest as ei

        files = sorted(os.listdir(self.inp()))
        self.in_dir = self.ctx.path("emb_in")
        os.makedirs(self.in_dir)
        shutil.copy(self.inp(files[0]), self.in_dir)
        snap = self.ctx.path("snapshot", self.key)
        q = ei.run_embedding_ingest(
            ei.stream_embeddings(self.spark, self.in_dir), f"{snap}/state", f"{snap}/ckpt")
        q.awaitTermination()
        shutil.copy(self.inp(files[1]), self.in_dir)
        gen.stamp_order([os.path.join(self.in_dir, f) for f in files])

    def before(self, it: int) -> None:
        shutil.copytree(self.ctx.path("snapshot", self.key), self.out(it))

    def run(self, it: int, tracer: Tracer) -> list[float]:
        from ml4logs_spark.streaming import embedding_ingest as ei

        with tracer.span("streaming.embedding_ingest"):
            self.q = ei.run_embedding_ingest(
                ei.stream_embeddings(self.spark, self.in_dir),
                self.out(it, "state"), self.out(it, "ckpt"))
            self.q.awaitTermination()
        return [float(b["durationMs"]["triggerExecution"]) for b in progress(self.q)]

    def check(self, it: int) -> list[str]:
        errs, n = [], self.ctx.sizes["emb"]
        if len(progress(self.q)) != 1:
            errs.append(f"embedding query ran {len(progress(self.q))} micro-batches, expected 1")
        codes = self.spark.read.parquet(self.out(it, "state", "codes")).agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("vec_id").alias("k"),
            F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
        if tuple(codes) != (n, n, 0, n - 1):
            errs.append(f"code state (rows, ids, min, max) = {tuple(codes)}, expected each "
                        f"of the {n} vec_ids exactly once")
        return errs

    def layers(self, it: int, tracer: Tracer) -> dict:
        out = stream_layers(tracer, self.q, "streaming.embedding_ingest")
        out["streaming.embedding_ingest.state_mb"] = dir_mb(self.out(it, "state"))
        out["similarity.pairs"] = sum(
            self.spark.read.parquet(self.out(it, "state", "pairs", f"batch={b['batchId']}")).count()
            for b in progress(self.q))
        return out


class DocDedup(Part):
    """One day-2 document batch through ``dedup.incremental_near_dup_verified``
    and ``dedup.incremental_simhash_near_dups`` against MinHash band,
    shingle-store and SimHash state built from the history side of a
    seeded md5 split."""

    key = "dedup"

    def generate(self, out: str) -> None:
        s = self.ctx.sizes
        gen.documents(self.ctx.seed + 1_000_003, s["dedup_doc_base"], s["dedup_doc_replicas"],
                      f"{out}/{self.key}/documents.parquet", n_files=DOC_FILES)

    def state(self, name: str) -> str:
        return self.ctx.path("state", self.key, name)

    def stage(self) -> None:
        from ml4logs_spark.operators import dedup

        docs = self.spark.read.parquet(self.inp("documents.parquet"))
        nib = F.substring(F.md5(F.concat(F.lit(f"{self.ctx.seed}:"),
                                         F.col("doc_id").cast("string"))), 1, 1)
        hist = docs.filter(nib < "c")
        docs.filter(nib >= "c").write.parquet(self.state("new"))
        dedup.lsh_bands(dedup.minhash_signatures(hist)).write.parquet(self.state("bands"))
        dedup.shingle_store(hist).write.parquet(self.state("store"))
        dedup.simhash64(hist).write.parquet(self.state("sigs"))
        new, bands, _, _ = self.read_state()
        dedup.incremental_near_dups(new, bands).write.parquet(self.state("candidates"))
        self.n_candidates = self.spark.read.parquet(self.state("candidates")).count()
        self.pair_counts = None

    def read_state(self):
        read = self.spark.read.parquet
        return tuple(read(self.state(n)) for n in ("new", "bands", "store", "sigs"))

    def run(self, it: int, tracer: Tracer) -> list[float]:
        from ml4logs_spark.operators import dedup

        new, bands, store, sigs = self.read_state()
        with tracer.span("dedup.incremental_minhash"):
            dedup.incremental_near_dup_verified(new, bands, store).write.parquet(
                self.out(it, "minhash"))
        with tracer.span("dedup.incremental_simhash"):
            dedup.incremental_simhash_near_dups(new, sigs).write.parquet(self.out(it, "simhash"))
        return []

    def check(self, it: int) -> list[str]:
        errs, read = [], self.spark.read.parquet
        cands = read(self.state("candidates")).withColumn("cand", F.lit(True))
        n_mh, stray = read(self.out(it, "minhash")).join(cands, ["doc_a", "doc_b"], "left").agg(
            F.count(F.lit(1)), F.count_if(F.col("cand").isNull())).first()
        if stray:
            errs.append(f"{stray} MinHash pairs are not incremental_near_dups candidates")
        counts = (n_mh, read(self.out(it, "simhash")).count())
        if self.pair_counts is None:
            self.pair_counts = counts
        elif counts != self.pair_counts:
            errs.append(f"pair counts {counts} != first iteration's {self.pair_counts}")
        return errs

    def layers(self, it: int, tracer: Tracer) -> dict:
        spans = {s.name: s for s in tracer.spans if s.iteration == it}
        mh_pairs, sh_pairs = self.pair_counts
        sh = spans["dedup.incremental_simhash"]
        return {
            "dedup.incremental_minhash.self_s": spans["dedup.incremental_minhash"].seconds,
            "dedup.incremental_minhash.candidates": self.n_candidates,
            "dedup.incremental_minhash.pairs": mh_pairs,
            "dedup.incremental_minhash.verify_yield": mh_pairs / max(self.n_candidates, 1),
            "dedup.incremental_simhash.self_s": sh.seconds,
            "dedup.incremental_simhash.pairs": sh_pairs,
            "dedup.incremental_simhash.shuffle_write_mb": tracer.tree_sum(sh).shuffle_write_mb,
        }


# ---------------------------------------------------------------- workloads


class Workload:
    """Parts run one after another; an iteration's outputs live under
    ``it<n>/``. ``part_s`` collects each part's timed seconds. Iteration
    0 is the warm-up and runs only the parts with ``warm_up`` set."""

    def __init__(self, ctx: Ctx, parts: list[type[Part]]):
        self.ctx = ctx
        self.spark = ctx.spark
        self.parts = [p(ctx) for p in parts]
        self.part_s = {p.key: [] for p in self.parts}

    def generate(self, out: str) -> None:
        for p in self.parts:
            p.generate(out)

    def stage(self) -> dict:
        """Stage every part; returns each part's staging seconds."""
        took = {}
        for p in self.parts:
            t = time.perf_counter()
            p.stage()
            took[p.key] = time.perf_counter() - t
        release_persisted(self.spark)
        return took

    def active(self, it: int) -> list[Part]:
        return [p for p in self.parts if it > 0 or p.warm_up]

    def before(self, it: int) -> None:
        for p in self.active(it):
            p.before(it)

    def run(self, it: int, tracer: Tracer) -> list[float]:
        batches = []
        for p in self.active(it):
            t = time.perf_counter()
            batches += p.run(it, tracer)
            self.part_s[p.key].append(time.perf_counter() - t)
        return batches

    def check(self, it: int) -> list[str]:
        return [e for p in self.active(it) for e in p.check(it)]

    def layers(self, it: int, tracer: Tracer) -> dict:
        out = {}
        for p in self.active(it):
            out.update(p.layers(it, tracer))
        return out

    def corrupt(self, it: int) -> None:
        next(p for p in self.active(it) if hasattr(p, "corrupt")).corrupt(it)

    def cleanup(self, it: int) -> None:
        shutil.rmtree(self.ctx.path(f"it{it}"), ignore_errors=True)


WORKLOADS = {
    "turns": [Pipeline, Latency],
    "corpus": [Curation, Embeddings, DocDedup],
}
