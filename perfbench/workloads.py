"""The benchmark's workloads: set-up, timed phase, output checks and the
traced layer pass. Spans are taken here, around calls into the engine's
public functions; nothing inside the engine is changed or patched."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import functions as F

from information_extraction_spark import schemas as S
from information_extraction_spark.kernels.extraction import KnowledgeBase
from information_extraction_spark.operators.evaluation import calc_pr
from information_extraction_spark.operators.extract import (
    MIN_ENTITY_LEN,
    assemble_triples,
    broadcast_kb,
    classify_tag_decode_stage,
    ordered_transcripts,
)
from information_extraction_spark.operators.linking import canonical_mapping, canonicalize_triples
from information_extraction_spark.plans.pipeline import extract_triples
from information_extraction_spark.session import get_spark
from information_extraction_spark.sources.from_documents import alias_chain_pairs
from information_extraction_spark.sources.tables import (
    read_alias_dict,
    read_kb,
    read_schemas,
    read_transcripts,
    write_graph,
)
from information_extraction_spark.streaming.ingest import start_streaming_extraction

import checks
import host
import inputs
from spans import Tracer, self_times

SETUP_REPS = 3
MIN_ROUNDS = 3
WARMUP_TURNS = 512
KERNEL_SAMPLE = 500
GROWN_KB_ENTITIES = 12_000
STREAM_CHUNK_TURNS = 1000
# Alias surfaces of the bulk build: 40k alias edges, under the 100k-edge
# threshold above which canonical_mapping leaves union-find on the
# driver for the distributed loop (that loop is timed in the traced run).
LINKING_SURFACES = 60_000
# Open-loop schedule: one chunk every STREAM_INTERVAL_S seconds, about
# 70% of the micro-batch service rate measured on the 4-core reference
# host (closed-loop drain of 1,000-turn chunks: 2.6 s per batch).
STREAM_INTERVAL_S = 3.7
TRIPLE_KEY = ["conv_id", "turn_idx", "subject", "predicate", "object"]


@dataclass(frozen=True)
class Spec:
    docs: int = inputs.N_DOCS  # corpus documents (sf0.1 has 5,000)
    turns: int | None = None  # seeded subset of the corpus turns
    kb_entities: int | None = None  # grow the KB to this many entities
    linking_surfaces: int | None = None  # None: the small repo alias dict
    sample: int = 300  # turns checked against the reference
    stream: bool = False


SCALED = ("docs", "turns", "kb_entities", "linking_surfaces")
SPECS = {
    "bulk_build": Spec(docs=2500, linking_surfaces=LINKING_SURFACES, sample=400),
    "kb_large": Spec(turns=2000, kb_entities=GROWN_KB_ENTITIES, sample=100),
    "stream_ingest": Spec(stream=True),
}


@dataclass
class Inputs:
    dir: str
    turns: list[tuple]
    kb: list[tuple]
    schemas: list[tuple]
    link_pairs: list[tuple[str, str]]
    eval_pairs: list[tuple[str, str]]

    def path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.parquet")


def make_inputs(spec: Spec, seed: int, d: str, scale: float = 1.0) -> Inputs:
    """Generate and write a workload's tables; ``scale`` shrinks every
    size (corpus, subset, KB growth, alias surfaces) for smoke runs."""
    spec = Spec(**{k: round(v * scale) if k in SCALED and v else v for k, v in spec.__dict__.items()})
    docs = inputs.documents(seed, max(10, spec.docs))
    corpus = inputs.transcripts(docs)
    turns = inputs.sample_turns(seed, corpus, spec.turns, "turn_subset") if spec.turns else corpus
    kb, schemas = inputs.base_kb(docs)
    if spec.kb_entities:
        kb = inputs.grown_kb(seed, corpus, kb, spec.kb_entities)
    eval_pairs = alias_chain_pairs(inputs.vocabulary(docs))
    link_pairs = eval_pairs
    if spec.linking_surfaces:
        entities = sorted({e for _, s, o in kb for e in (s, o)})
        link_pairs = inputs.linking_alias_pairs(seed, entities, spec.linking_surfaces)
    inp = Inputs(d, turns, kb, schemas, link_pairs, eval_pairs)
    inputs.write_table(turns, inputs.TRANSCRIPT_SCHEMA, inp.path("transcripts"))
    inputs.write_table(kb, inputs.KB_SCHEMA, inp.path("kb"))
    inputs.write_table(schemas, inputs.SCHEMAS_SCHEMA, inp.path("schemas"))
    inputs.write_table(link_pairs, inputs.ALIAS_SCHEMA, inp.path("link_alias"))
    inputs.write_table(eval_pairs, inputs.ALIAS_SCHEMA, inp.path("eval_alias"))
    return inp


@dataclass
class Ops:
    """Operations attempted and failed; a failed output check counts as
    a failed operation."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str, scale: float = 1.0):
        self.scale = scale
        self.chunk_turns = max(10, round(STREAM_CHUNK_TURNS * scale))
        self.spec = SPECS[workload]
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.cores = host.cores()
        # Task slots: one core fewer than the process may use, so the
        # driver, the JVM's compiler and GC threads and the Python workers'
        # feeders do not queue behind the tasks.
        self.slots = max(1, self.cores - 1)
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", enabled=traced)
        self.ops = Ops()
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.notes: list[str] = []
        self.spark = None

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """Set up SETUP_REPS times (get_spark, input generation, warm-up
        build) and keep the last; setup_s is the median. The first
        get_spark launches the JVM, later ones return that session."""
        reps, get_spark_s = [], []
        for rep in range(SETUP_REPS):
            t0 = t = time.perf_counter()
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{self.slots}]",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    # A fixed-size heap: G1 otherwise grows it at moments
                    # that differ from run to run, and the JVM's share of
                    # peak_rss_mb with it.
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -Xms{os.environ['SPARK_DRIVER_MEMORY']}",
                },
            )
            get_spark_s.append(time.perf_counter() - t)
            self.inp = make_inputs(self.spec, self.seed, os.path.join(self.work, f"inputs{rep}"), self.scale)
            self._warm_up()
            reps.append(time.perf_counter() - t0)
        self.e2e["setup_s"] = statistics.median(reps)
        self.layers["session.get_spark_s"] = get_spark_s[0]
        self.notes.append("setup reps (s): " + ", ".join(f"{r:.3f}" for r in reps))

    def _warm_up(self) -> None:
        """Extraction over the first WARMUP_TURNS turns: launches the
        Python workers."""
        spark, inp = self.spark, self.inp
        turns = read_transcripts(spark, inp.path("transcripts")).limit(WARMUP_TURNS)
        extract_triples(spark, turns, read_kb(spark, inp.path("kb")), read_schemas(spark, inp.path("schemas"))).count()

    def tables(self):
        spark, inp = self.spark, self.inp
        return (
            read_transcripts(spark, inp.path("transcripts")),
            read_kb(spark, inp.path("kb")),
            read_schemas(spark, inp.path("schemas")),
        )

    # -- batch workloads ---------------------------------------------------

    def build_once(self, graph_dir: str, turns_path: str | None = None, alias: str = "link_alias") -> float:
        """One build: read → extract_triples → canonicalize_triples →
        write_graph (the commit); returns its wall time."""
        t0 = time.perf_counter()
        turns, kb, schemas = self.tables()
        if turns_path is not None:
            turns = read_transcripts(self.spark, turns_path)
        alias_df = read_alias_dict(self.spark, self.inp.path(alias))
        write_graph(canonicalize_triples(extract_triples(self.spark, turns, kb, schemas), alias_df), graph_dir)
        return time.perf_counter() - t0

    def run_batch(self) -> None:
        """Build, then evaluate the committed graph, at least MIN_ROUNDS
        times (two in a traced run) and until ``seconds`` have passed.
        The metrics are totals over every round, the first included: it
        compiles the stages the later rounds reuse, as the first build of
        any fresh session does, and on a shared 4-core host it varied less
        from run to run than any later round."""
        self.prepare_checks(self.inp.turns)
        graph_dir = os.path.join(self.work, "graph")
        walls, evals, windows = [], [], []
        min_rounds = 2 if self.traced else MIN_ROUNDS
        t_end = time.perf_counter() + self.seconds
        while len(walls) < min_rounds or time.perf_counter() < t_end:
            ticks = host.cpu_ticks()
            walls.append(self.build_once(graph_dir))
            windows.append(host.cpu_window(ticks, host.cpu_ticks()))
            self.ops.attempted += 1
            if len(walls) == 1:
                # Every build writes the same graph; its rows are counted
                # once here and again after the last build (check_batch).
                self.graph_rows = self.spark.read.parquet(graph_dir).count()
            evals.append(self.evaluate(self.spark.read.parquet(graph_dir)))
        self.graph = self.spark.read.parquet(graph_dir)
        self.e2e["triples_per_s"] = self.graph_rows * len(walls) / sum(walls)
        self.e2e["eval_s"] = statistics.mean(evals)
        self.notes.append("build walls (s): " + ", ".join(f"{w:.3f}" for w in walls))
        self.notes.append("calc_pr walls (s): " + ", ".join(f"{w:.3f}" for w in evals))
        self._host(windows)
        # The untraced reference for trace.overhead_s: the last build, on
        # stages compiled as the traced build's are.
        self.e2e_wall = walls[-1]

    def check_batch(self) -> None:
        graph = self.graph
        rows = graph.count()
        self.ops.check("graph_rows_equal_across_builds", rows == self.graph_rows,
                       f"{rows} rows after the last build, {self.graph_rows} after the first")
        self._check_sample(graph)
        observed = graph.select(F.col("subject").alias("x"), F.col("subject_canonical").alias("c")).union(
            graph.select("object", "object_canonical")).distinct().collect()
        bad = checks.canonical_mismatches([(r["x"], r["c"]) for r in observed], self.labels())
        self.ops.check("canonical_ids_equal_union_find", not bad, f"{len(bad)} of {len(observed)} differ, e.g. {bad[:3]}")

    def labels(self) -> dict[str, str]:
        if not hasattr(self, "_labels"):
            self._labels = checks.union_find_labels(self.inp.link_pairs)
        return self._labels

    # -- stream workload ---------------------------------------------------

    def chunk_rows(self, first: int, n: int) -> list[tuple]:
        """Turns of event-time-ordered chunks ``first``..``first+n-1``."""
        rows = sorted(self.inp.turns, key=lambda r: (r[5], r[0], r[1]))
        return rows[first * self.chunk_turns : (first + n) * self.chunk_turns]

    def stage_chunks(self, d: str, first: int, n: int) -> list[str]:
        """Write chunks ``first``..``first+n-1`` as single parquet files
        with increasing modification times, so a file source takes them
        in order."""
        rows = self.chunk_rows(0, first + n)
        base = time.time() - 3600
        paths = []
        for k in range(first, first + n):
            p = os.path.join(d, f"chunk{k:05d}.parquet")
            inputs.write_table(rows[k * self.chunk_turns : (k + 1) * self.chunk_turns], inputs.TRANSCRIPT_SCHEMA, p)
            os.utime(p, (base + k, base + k))
            paths.append(p)
        return paths

    def start_stream(self, d: str):
        src = os.path.join(d, "src")
        os.makedirs(src, exist_ok=True)
        _, kb, schemas = self.tables()
        stream = self.spark.readStream.schema(S.TRANSCRIPTS).option("maxFilesPerTrigger", 1).parquet(src)
        q = start_streaming_extraction(
            self.spark, stream, kb, schemas, os.path.join(d, "out"), os.path.join(d, "ckpt")
        )
        return q, src

    def drain_closed(self, d: str, first: int, n: int):
        """Closed loop: all ``n`` chunks present, drained to the end."""
        staged = self.stage_chunks(os.path.join(d, "stage"), first, n)
        q, src = self.start_stream(d)
        for p in staged:
            os.rename(p, os.path.join(src, os.path.basename(p)))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return q.recentProgress

    def run_stream(self) -> None:
        n = max(2, round(self.seconds / STREAM_INTERVAL_S))
        t = time.perf_counter()
        # Priming drain: the first micro-batch of a process pays one-off
        # costs (worker imports, code generation) the schedule would
        # otherwise charge to chunk 0.
        self.drain_closed(os.path.join(self.work, "prime"), n, 1)
        self.notes.append(f"priming drain (s): {time.perf_counter() - t:.3f}")
        d = os.path.join(self.work, "stream")
        staged = self.stage_chunks(os.path.join(d, "stage"), 0, n)
        q, src = self.start_stream(d)
        dropped = [0.0] * n
        ticks = host.cpu_ticks()
        t0 = time.time()
        due = [t0 + k * STREAM_INTERVAL_S for k in range(n)]

        def generate() -> None:
            for k, p in enumerate(staged):
                time.sleep(max(0.0, due[k] - time.time()))
                os.rename(p, os.path.join(src, os.path.basename(p)))
                dropped[k] = time.time()

        gen = threading.Thread(target=generate)
        gen.start()
        gen.join()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        window = host.cpu_window(ticks, host.cpu_ticks())
        self.stream_dir = d
        self.stream_turns = self.chunk_rows(0, n)
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        batch_of = self._batch_of_chunk(os.path.join(d, "ckpt"))
        commit = {b: os.stat(os.path.join(d, "ckpt", "commits", str(b))).st_mtime for b in set(batch_of.values())}
        names = [os.path.basename(p) for p in staged]
        latencies = [commit[batch_of[nm]] - due[k] for k, nm in enumerate(names) if nm in batch_of]
        self.notes.append("chunk -> micro-batch: " + ", ".join(
            f"{k}->{batch_of.get(nm)} (due +{due[k] - t0:.2f} s, commit +{commit.get(batch_of.get(nm), t0) - t0:.2f} s)"
            for k, nm in enumerate(names)))
        self.ops.attempted += n
        self.ops.check("stream_chunks_committed", len(latencies) == n, f"{len(latencies)} of {n}")
        streamed = self.spark.read.parquet(os.path.join(d, "out"))
        self.streamed = streamed.dropDuplicates(TRIPLE_KEY)
        per_batch = {r["epoch_id"]: r["count"] for r in streamed.groupBy("epoch_id").count().collect()}
        rates = [per_batch.get(p.batchId, 0) / (p.durationMs["triggerExecution"] / 1000) for p in progress]
        self.e2e["triples_per_s"] = statistics.median(rates)
        self._latency(latencies, "chunk")
        self._host([window])
        lag = [dr - du for dr, du in zip(dropped, due)]
        self.notes.append(f"open loop: {n} chunks of {self.chunk_turns} turns every {STREAM_INTERVAL_S} s; generator lag max {max(lag) * 1000:.1f} ms")
        backlog = []  # chunks dropped but not yet taken when a batch starts
        for p in progress:
            start = datetime.fromisoformat(p.timestamp).timestamp()
            arrived = sum(1 for t in dropped if t <= start)
            taken = sum(1 for nm in names if batch_of.get(nm, p.batchId) < p.batchId)
            backlog.append(arrived - taken)
        self._stream_layers(progress, backlog)

    @staticmethod
    def _batch_of_chunk(ckpt: str) -> dict[str, int]:
        """chunk file name -> micro-batch id, from the file source log."""
        out = {}
        for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
            with open(f) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def _stream_layers(self, progress, backlog: list[int]) -> None:
        """Streaming layer metrics from the engine's progress reports of
        the micro-batches that read data."""
        L = self.layers
        L["streaming.ingest.add_batch_s"] = statistics.median(p.durationMs["addBatch"] / 1000 for p in progress)
        L["streaming.ingest.non_batch_s"] = statistics.median(
            (p.durationMs["triggerExecution"] - p.durationMs["addBatch"]) / 1000 for p in progress)
        L["streaming.ingest.state_rows"] = statistics.median(
            sum(s.numRowsTotal for s in p.stateOperators) for p in progress)
        L["streaming.ingest.backlog_files"] = statistics.median(backlog)

    def check_stream(self) -> None:
        d = self.stream_dir
        spark = self.spark
        _, kb, schemas = self.tables()
        cols = TRIPLE_KEY + ["subject_type", "object_type"]
        streamed = {tuple(r) for r in self.streamed.select(cols).collect()}
        batch = extract_triples(spark, read_transcripts(spark, os.path.join(d, "src")), kb, schemas)
        batch = {tuple(r) for r in batch.select(cols).collect()}
        self.ops.check("stream_equals_batch", streamed == batch,
                       f"{len(streamed - batch)} extra, {len(batch - streamed)} missing")
        self.prepare_checks(self.stream_turns)
        self._check_sample(self.streamed)
        self.e2e["eval_s"] = self.evaluate(self.streamed)

    # -- shared checks and metrics ----------------------------------------

    def prepare_checks(self, pool: list[tuple]) -> None:
        """Seeded check sample of ``pool``, its reference triples (the
        pure-Python baseline is timed here) and the perturbed gold."""
        self.sample = inputs.sample_turns(self.seed, [r for r in pool if r[3]], self.spec.sample)
        t = time.perf_counter()
        self.expected = inputs.expected_triples([r[3] for r in self.sample], self.inp.kb, self.inp.schemas)
        self.layers["baseline.python_us_per_text"] = (time.perf_counter() - t) * 1e6 / len(self.expected)
        gold_rows = inputs.perturbed_gold(self.seed, self.expected, self.inp.eval_pairs)
        self.gold = self.spark.createDataFrame(gold_rows, "text string, subject string, predicate string, object string")
        self.eval_alias = read_alias_dict(self.spark, self.inp.path("eval_alias"))
        self.want_pr = checks.expected_pr(
            {t: {(s, p, o) for s, p, o, _, _ in tr} for t, tr in self.expected.items()},
            gold_rows, self.inp.eval_pairs)
        self.got_pr: list[dict] = []

    def _check_sample(self, graph) -> None:
        """Triples of the check sample equal the pure-Python reference
        over the dict KB."""
        sample = self.sample
        keys = self.spark.createDataFrame([(r[0], r[1]) for r in sample], "conv_id string, turn_idx int")
        rows = graph.join(F.broadcast(keys), ["conv_id", "turn_idx"]).select(
            "conv_id", "turn_idx", "subject", "predicate", "object", "subject_type", "object_type").collect()
        got: dict[tuple, list] = {}
        for r in rows:
            got.setdefault((r[0], r[1]), []).append(tuple(r[2:]))
        bad = [k for k in ((r[0], r[1], r[3]) for r in sample)
               if sorted(got.get(k[:2], [])) != self.expected[k[2]]]
        self.ops.check("sample_equals_reference", not bad, f"{len(bad)} of {len(sample)} turns differ, e.g. {bad[:2]}")

    def evaluate(self, predicted) -> float:
        """calc_pr of ``predicted`` against the seeded gold; returns its
        wall time."""
        t = time.perf_counter()
        got = calc_pr(predicted, self.gold, alias_df=self.eval_alias).collect()[0].asDict()
        wall = time.perf_counter() - t
        self.ops.attempted += 1
        self.got_pr.append(got)
        return wall

    def _check_pr(self) -> None:
        """Every calc_pr result equals the P/R/F1 implied by the gold
        perturbation, with P < 1 and R < 1."""
        want = self.want_pr
        bad = [g for g in self.got_pr if g != want]
        ok = not bad and want["precision"] < 1 and want["recall"] < 1
        self.ops.check("calc_pr_equals_perturbation", ok, f"got {bad[:1]}, want {want}")
        self.notes.append(f"calc_pr: P={want['precision']} R={want['recall']} F1={want['f1']}")

    def _latency(self, samples: list[float], unit: str) -> None:
        value, pct = checks.tail(samples)
        self.e2e["latency_p50_s"] = statistics.median(samples)
        self.e2e["latency_tail_s"] = value
        self.notes.append(f"latency per {unit}: p50 and tail=p{pct} of n={len(samples)}: "
                          + ", ".join(f"{s:.3f}" for s in samples))

    def _host(self, windows: list[dict]) -> None:
        for w in windows:
            self.notes.append(f"host per timed rep: busy {w['busy_pct']:.1f}% steal {w['steal_pct']:.1f}%")
        self.layers["host.cores"] = self.cores
        self.layers["host.busy_pct"] = statistics.median([w["busy_pct"] for w in windows])
        self.layers["host.steal_pct"] = statistics.median([w["steal_pct"] for w in windows])

    # -- traced layer pass -------------------------------------------------

    def traced_pass(self) -> None:
        """One build with every layer's input materialized before its
        span, so each span holds that layer's work alone."""
        spark, span, L = self.spark, self.tracer.span, self.layers
        d = os.path.join(self.work, "traced")
        if self.spec.stream:
            # The untraced reference: the same batch build over the
            # streamed turns.
            turns_path = os.path.join(self.stream_dir, "src")
            alias_path = self.inp.path("eval_alias")
            self.e2e_wall = self.build_once(os.path.join(self.work, "untraced"), turns_path, "eval_alias")
        else:
            turns_path = self.inp.path("transcripts")
            alias_path = self.inp.path("link_alias")
        with span("build"):
            with span("sources.tables.scan"):
                turns = read_transcripts(spark, turns_path).cache()
                L["operators.extract.turns_in"] = turns.count()
                kb, schemas = read_kb(spark, self.inp.path("kb")).cache(), read_schemas(spark, self.inp.path("schemas")).cache()
                alias = read_alias_dict(spark, alias_path).cache()
                kb.count(), schemas.count(), alias.count()
            with span("operators.extract.broadcast_kb"):
                kb_bc = broadcast_kb(spark, kb)
            with span("operators.extract.ordered_transcripts"):
                ordered = ordered_transcripts(turns.repartition(self.slots, "conv_id", "turn_idx")).cache()
                ordered.count()
            kept = L["operators.extract.turns_kept"] = ordered.filter(F.length("text") > 0).count()
            with span("operators.extract.classify_tag_decode_stage"):
                units = classify_tag_decode_stage(ordered, kb_bc, min_entity_len=MIN_ENTITY_LEN).cache()
                L["operators.extract.units_out"] = units.count()
            useful = units.select("conv_id", "turn_idx").distinct().count()
            with span("operators.extract.assemble_triples"):
                triples = assemble_triples(units, schemas, pre_cleaned=True).cache()
                L["operators.extract.triples_out"] = triples.count()
            with span("operators.linking.canonicalize_triples"):
                # canonical_mapping runs its connected-components loop
                # eagerly inside this call; the joins run at the count.
                with span("operators.linking.canonical_mapping"):
                    canon = canonicalize_triples(triples, alias)
                canon = canon.cache()
                canon.count()
            with span("sources.tables.write_graph"):
                write_graph(canon, d)
        with span("operators.evaluation.calc_pr"):
            self.evaluate(spark.read.parquet(d))
        files = glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
        selfs = self._self_times()
        for name in ("sources.tables.scan", "operators.extract.broadcast_kb", "operators.extract.ordered_transcripts",
                     "operators.extract.classify_tag_decode_stage", "operators.extract.assemble_triples",
                     "operators.linking.canonical_mapping", "operators.linking.canonicalize_triples",
                     "sources.tables.write_graph"):
            L[name + "_s"] = selfs[name]
        L["sources.tables.write_graph_bytes"] = sum(os.path.getsize(f) for f in files)
        L["sources.tables.write_graph_files"] = len(files)
        L["kernels.extraction.useful_text_ratio"] = useful / kept
        L["operators.extract.stage_us_per_text"] = selfs["operators.extract.classify_tag_decode_stage"] * 1e6 / kept
        L["operators.evaluation.calc_pr_s"] = selfs["operators.evaluation.calc_pr"]
        L["trace.overhead_s"] = self.tracer.total("build") - self.e2e_wall
        if not self.spec.stream:
            self.ops.check("graph_rows_equal_extraction", self.graph_rows == L["operators.extract.triples_out"],
                           f"{self.graph_rows} graph rows vs {L['operators.extract.triples_out']} extracted")
        # The distributed connected-components loop over the same alias
        # graph (forced past the driver threshold); its labels must
        # equal union-find.
        with span("operators.linking.canonical_mapping_distributed"):
            rows = canonical_mapping(alias, driver_threshold=0).collect()
        L["operators.linking.canonical_mapping_distributed_s"] = self.tracer.total(
            "operators.linking.canonical_mapping_distributed")
        bad = checks.canonical_mismatches([(r["surface"], r["canonical_id"]) for r in rows], self.labels())
        self.ops.check("distributed_canonical_ids_equal_union_find", not bad and len(rows) == len(self.labels()),
                       f"{len(bad)} of {len(rows)} differ, e.g. {bad[:3]}")
        for df in (turns, kb, schemas, alias, ordered, units, triples, canon):
            df.unpersist()

    def _self_times(self) -> dict[str, float]:
        st = self_times(self.tracer.spans)
        out: dict[str, float] = {}
        for s in self.tracer.spans:
            out[s.name] = out.get(s.name, 0.0) + st[s.id]
        return out

    def kernel_bench(self) -> None:
        """In-process, single-core kernel timings over a seeded sample of
        the workload's texts: KB index build, presence + firing
        (classify_batch) and the fused extract (extract_batch)."""
        texts = [r[3] for r in inputs.sample_turns(self.seed, self.inp.turns, KERNEL_SAMPLE, "kernel_sample")]
        L = self.layers

        def timed(fn, kb_rows, sample) -> tuple[float, float]:
            """(index build s, us per text of ``fn`` over ``sample``)."""
            t = time.perf_counter()
            kb = KnowledgeBase(kb_rows)
            t1 = time.perf_counter()
            fn(kb, sample)
            return t1 - t, (time.perf_counter() - t1) * 1e6 / len(sample)

        with self.tracer.span("kernels.extraction"):
            init1, L["kernels.extraction.classify_batch_us_per_text"] = timed(
                KnowledgeBase.classify_batch, self.inp.kb, texts)
            init2, L["kernels.extraction.extract_batch_us_per_text"] = timed(
                lambda kb, x: kb.extract_batch(x, min_entity_len=MIN_ENTITY_LEN), self.inp.kb, texts)
            L["kernels.extraction.kb_init_s"] = (init1 + init2) / 2
            # Presence over a KB grown to GROWN_KB_ENTITIES (a quarter of
            # the sample: cost per text is ~30x the base KB's).
            grown = inputs.grown_kb(self.seed, self.inp.turns, self.inp.kb, round(GROWN_KB_ENTITIES * self.scale))
            _, L["kernels.extraction.grown_kb_classify_batch_us_per_text"] = timed(
                KnowledgeBase.classify_batch, grown, texts[: max(1, len(texts) // 4)])

    def stream_probe(self) -> None:
        """Batch workloads: a closed-loop drain of two chunks of the
        workload's own turns, for the streaming layer metrics."""
        n_chunks = len(self.inp.turns) // self.chunk_turns
        with self.tracer.span("streaming.ingest"):
            progress = [p for p in self.drain_closed(os.path.join(self.work, "probe"), 0, min(2, n_chunks))
                        if p.numInputRows > 0]
        self._stream_layers(progress, [len(progress) - i for i in range(len(progress))])

    # -- run -----------------------------------------------------------------

    def run(self) -> None:
        phases = []

        def phase(name: str, fn) -> None:
            t = time.perf_counter()
            fn()
            phases.append(f"{name} {time.perf_counter() - t:.1f}")

        phase("setup", self.setup)
        if self.spec.stream:
            phase("stream", self.run_stream)
            phase("checks", self.check_stream)
        else:
            phase("rounds", self.run_batch)
            phase("checks", self.check_batch)
        if self.traced:
            phase("traced", self.traced_pass)
            phase("kernels", self.kernel_bench)
            if not self.spec.stream:
                phase("stream_probe", self.stream_probe)
        self._check_pr()
        self.notes.append("phase walls (s): " + ", ".join(phases))

    def close(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
