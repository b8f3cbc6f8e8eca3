"""The benchmark's workloads.

Each workload owns its input and knows how to run one closed-loop pass
(forced through a checksum aggregate, never ``.count()``, which lets
Catalyst prune the stage-1 UDF), how to verify the output once per run
against an independent reference, and which layer probes the traced run
adds. Spans (``tracing.Tracer``) wrap every call into the package.

- ``extract_html``: ``plans.pipeline.extract``, default map-only plan.
  Verified per turn against ``core.oracle.extract_turn``.
  Its traced run adds the spark-submit job path (``plans.checkpoint.
  run_with_checkpoints``, 8 buckets, salt 8) over the same input.
- ``curate``: the ``curate_corpus`` plan over planted near-dup docs.
  Verified row by row against the package's DuckDB oracle, plus
  planted-cluster invariants and running-budget totals; the traced run
  also checks the split of every document.
"""

from __future__ import annotations

import hashlib
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from keras_ocr_spark import driver_queries as DQ
from keras_ocr_spark.config import DEFAULT_CONFIG
from keras_ocr_spark.core.decoder import decode_text
from keras_ocr_spark.core.oracle import extract_turn
from keras_ocr_spark.core.proposal import propose_spans
from keras_ocr_spark.core.tokenizer import tokenize
from keras_ocr_spark.operators import dedup as D
from keras_ocr_spark.operators import textstats as TS
from keras_ocr_spark.operators.clusters import leakage_safe_split
from keras_ocr_spark.operators.curation import token_budget_mix
from keras_ocr_spark.operators.detect import detect
from keras_ocr_spark.operators.fused import decode_reassemble_fused
from keras_ocr_spark.plans.checkpoint import (
    completed_buckets,
    read_committed,
    read_manifests,
    run_with_checkpoints,
)
from keras_ocr_spark.plans.pipeline import extract

import eventlog
import inputs
import oracle
from tracing import Tracer

MB = 1 << 20
N_BUCKETS = 8  # scripts/extract_job.py defaults
N_SALT = 8
CORE_SAMPLE = 1500  # turns timed single-threaded by the core probes
PROBE_REPEATS = 3
RECALL_BOUND = 0.95  # planted clusters that must resolve to one keeper
TEST_NIBBLES = "0123"  # leakage_safe_split: md5(keeper)[0] in these -> test
CURATE_BUDGETS = {"en": 3000}  # the curate_corpus plan's token budgets
CURATE_DEFAULT_BUDGET = 1000


class CheckFailed(Exception):
    """A pass produced output that differs from the verified output."""


@dataclass
class Verified:
    expected: dict  # pass variant -> checksum tuple
    checked: int  # records compared against the reference
    mismatched: int
    problems: list = field(default_factory=list)


def _force(df, *aggs) -> tuple:
    return tuple(int(v) if v is not None else 0 for v in df.agg(*aggs).collect()[0])


def extraction_hash():
    return F.xxhash64("conv_id", "turn_idx", "clean_text", "spans")


def extraction_checksum(df) -> tuple:
    """(rows, sum len(clean_text), sum size(spans), xor of row hashes)."""
    return _force(
        df,
        F.count("*"),
        F.sum(F.length("clean_text")),
        F.sum(F.size("spans")),
        F.bit_xor(extraction_hash()),
    )


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def data_files(path: Path) -> list:
    return sorted(p for p in path.rglob("*.parquet") if p.is_file())


def check_turns(rows, texts: dict) -> tuple:
    """Compare collected extraction rows (with their Spark row hash
    ``h``) to the oracle, turn by turn. Returns (checked, mismatched,
    checksum of the rows as the timed passes compute it)."""
    seen, bad, n_len, n_spans, h = set(), 0, 0, 0, 0
    for r in rows:
        key = (r.conv_id, r.turn_idx)
        if key not in texts or key in seen:
            bad += 1
            continue
        seen.add(key)
        ref = extract_turn(texts[key], DEFAULT_CONFIG)
        got_spans = [(s.start, s.end) for s in r.spans]
        if r.clean_text != ref.clean_text or got_spans != [(s.start, s.end) for s in ref.spans]:
            bad += 1
        n_len += len(r.clean_text)
        n_spans += len(r.spans)
        h ^= r.h
    bad += len(texts) - len(seen)
    return len(texts), bad, (len(rows), n_len, n_spans, h)


class Workload:
    name = ""
    records_name = "turns"
    #: (variant, traced) steps of one round of the untraced run's loop
    timed_steps = [("full", False)]
    #: (variant, traced) steps of one round of the traced run's loop
    trace_steps = [("full", False), ("full", True)]
    #: untimed rounds of the loop's steps after the cold pass: the
    #: passes right after it still JIT-compile
    warmup_rounds = 2
    #: fewest timed rounds of the untraced run, however long they take
    min_rounds = 2
    #: (variant, traced) passes the traced run makes once, after its loop
    trace_extras: list = []

    def __init__(self, inp: inputs.Input, work: Path, tracer: Tracer, slots: int):
        self.inp = inp
        self.work = work
        self.tracer = tracer
        self.slots = slots
        self.frame = inputs.read_frame(inp)
        self.records = inp.n_records
        self.problems: list = []  # failed run-level checks, verification and probes

    # -- per pass ---------------------------------------------------------
    def run_pass(self, spark, variant: str = "full") -> tuple:
        raise NotImplementedError

    def records_of(self, variant: str) -> int:
        return self.records

    # -- once per run -----------------------------------------------------
    def verify(self, spark) -> Verified:
        raise NotImplementedError

    # -- traced run -------------------------------------------------------
    def sample_texts(self, seed: int) -> list:
        texts = list(self.frame["text"])
        return random.Random(seed).sample(texts, min(CORE_SAMPLE, len(texts)))

    def detect_input(self, spark):
        """(conv_id, turn_idx, text) over this workload's records."""
        return spark.read.parquet(str(self.inp.path)).select("conv_id", "turn_idx", "text")

    def scan(self, spark):
        return spark.read.parquet(str(self.inp.path))

    def layer_report(self, log) -> dict:
        """Workload-specific layer metrics from the event log and spans."""
        return {}

    def probes(self, spark) -> dict:
        """Workload-specific layer probes (traced run only)."""
        return {}


class ExtractHtml(Workload):
    """Map-only extraction. Each round of the untraced run's loop runs
    the ``full`` pass and a ``one_slot`` pass, the first file alone (one
    scan partition, so one task): the pair gives the scaling efficiency.
    The traced run adds the ``checkpointed`` variant, the spark-submit
    job path (``scripts/extract_job.py`` defaults, 8 buckets, salt 8)
    from an empty output dir: half the buckets, resume, no-op resume,
    forced ``read_committed``. Its output must equal the full pass's.
    """

    name = "extract_html"
    timed_steps = [("full", False), ("one_slot", False)]
    trace_extras = [("checkpointed", True)] * 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.first_file = data_files(self.inp.path)[0]
        self.first_keys = set(zip(*pq.read_table(self.first_file, columns=["conv_id", "turn_idx"]).to_pydict().values()))
        self.out = self.work / "ckpt-out"
        self.scan_span = None  # set by probes()

    def records_of(self, variant: str) -> int:
        return len(self.first_keys) if variant == "one_slot" else self.records

    def run_pass(self, spark, variant: str = "full") -> tuple:
        if variant == "checkpointed":
            return self._checkpointed(spark)
        path = self.first_file if variant == "one_slot" else self.inp.path
        src = spark.read.parquet(str(path))
        with self.tracer.span("plans.pipeline.extract"):
            out = extract(src)
        with self.tracer.span("action.checksum"):
            return extraction_checksum(out)

    def verify(self, spark) -> Verified:
        out = extract(spark.read.parquet(str(self.inp.path)))
        rows = out.select("conv_id", "turn_idx", "clean_text", "spans", extraction_hash().alias("h")).collect()
        texts = {(c, int(t)): x for c, t, x in zip(self.frame["conv_id"], self.frame["turn_idx"], self.frame["text"])}
        checked, bad, full = check_turns(rows, texts)
        first = [r for r in rows if (r.conv_id, r.turn_idx) in self.first_keys]
        one_slot = (
            len(first),
            sum(len(r.clean_text) for r in first),
            sum(len(r.spans) for r in first),
            _xor(r.h for r in first),
        )
        return Verified({"full": full, "one_slot": one_slot, "checkpointed": full}, checked, bad, self.problems)

    # -- the checkpointed job ---------------------------------------------
    def _run(self, spark, phase: str) -> dict:
        with self.tracer.span("plans.checkpoint.run_with_checkpoints", phase=phase):
            return run_with_checkpoints(
                spark,
                str(self.inp.path),
                str(self.out),
                n_buckets=N_BUCKETS,
                n_salt=N_SALT,
                max_buckets_per_run=N_BUCKETS // 2,
            )

    def _checkpointed(self, spark) -> tuple:
        shutil.rmtree(self.out, ignore_errors=True)
        first = self._run(spark, "first")
        resume = self._run(spark, "resume")
        noop = self._run(spark, "noop")
        manifests = list(read_manifests(str(self.out)))
        fingerprint = manifests[0]["fingerprint"]
        with self.tracer.span("plans.checkpoint.completed_buckets"):
            done = completed_buckets(str(self.out), fingerprint, N_BUCKETS)
        problems = []
        if len(first["buckets_run"]) != N_BUCKETS // 2 or len(resume["buckets_run"]) != N_BUCKETS // 2:
            problems.append(f"bucket split {first['buckets_run']} / {resume['buckets_run']}")
        if noop["buckets_run"] or sorted(done) != list(range(N_BUCKETS)):
            problems.append(f"resume not idempotent: noop ran {noop['buckets_run']}, done {done}")
        if first["rows"] + resume["rows"] != self.records or sum(m["rows"] for m in manifests) != self.records:
            problems.append("manifest rows do not add up to the input turns")
        if problems:
            raise CheckFailed("; ".join(problems))
        with self.tracer.span("plans.checkpoint.read_committed"):
            return extraction_checksum(read_committed(spark, str(self.out), fingerprint))

    def probes(self, spark) -> dict:
        # Bytes one scan of the job's columns reads: the amplification base.
        with self.tracer.span("probe.input_scan") as rec:
            _force(self.detect_input(spark), F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text")))
        self.scan_span = rec
        return {}

    def layer_report(self, log) -> dict:
        """plans.checkpoint.* from the traced checkpointed passes."""
        tr = self.tracer
        ckpt_passes = [r for r in tr.spans if r["name"] == "pass" and r["variant"] == "checkpointed"]
        phase_s: dict = {}
        for rec in tr.spans:
            top = tr.ancestor(rec["id"], "pass")
            if top is not None and top["variant"] == "checkpointed":
                key = rec["name"] + ("." + rec["phase"] if "phase" in rec else "")
                phase_s.setdefault(key, []).append(tr.duration(rec))
        run_name = "plans.checkpoint.run_with_checkpoints"
        amplification, readback = [], []
        for p in ckpt_passes:
            jobs = [
                j
                for j in log.jobs
                if j.span is not None
                and tr.spans[j.span]["name"] == run_name
                and tr.ancestor(j.span, "pass") is p
            ]
            back = [j for j in jobs if j.call_site.startswith("collect at")]
            write = [j for j in jobs if j not in back]
            amplification.append(sum(t.input_bytes for t in log.tasks(write)))
            readback.append(sum(j.duration_s for j in back) / max(sum(j.duration_s for j in jobs), 1e-9))
        scan_jobs = [j for j in log.jobs if j.span == self.scan_span["id"]]
        scan_bytes = sum(t.input_bytes for t in log.tasks(scan_jobs))
        files = list(self.out.rglob("*.parquet"))
        return {
            "plans.checkpoint.first_run_s": _median(phase_s.get(run_name + ".first", [])),
            "plans.checkpoint.resume_run_s": _median(phase_s.get(run_name + ".resume", [])),
            "plans.checkpoint.noop_resume_ms": 1e3 * _median(phase_s.get(run_name + ".noop", [])),
            "plans.checkpoint.completed_buckets_ms": 1e3 * _median(phase_s.get("plans.checkpoint.completed_buckets", [])),
            "plans.checkpoint.read_committed_s": _median(phase_s.get("plans.checkpoint.read_committed", [])),
            "plans.checkpoint.input_read_amplification": _median(amplification) / max(scan_bytes, 1),
            "plans.checkpoint.readback_share": _median(readback),
            "plans.checkpoint.output_mb": sum(p.stat().st_size for p in files) / MB,
            "plans.checkpoint.output_files": len(files),
        }


def _xor(values) -> int:
    acc = 0
    for v in values:
        acc ^= v
    return acc


class Curate(Workload):
    """The curate_corpus plan over planted near-duplicate documents."""

    name = "curate"
    records_name = "docs"
    # A pass takes 6-10 s and its time varies by up to 20% from run to
    # run (JIT and host noise), so the median is taken over four passes.
    min_rounds = 4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.doc_file = self.inp.path / "documents.parquet"
        self.last_rows = None

    def run_pass(self, spark, variant: str = "full") -> tuple:
        """The output is a few dozen rows, so the pass collects them all
        (with a Spark row hash) and keeps them for :meth:`verify`."""
        with self.tracer.span("driver_queries.q_curate_corpus"):
            out = DQ.q_curate_corpus(spark, str(self.inp.path))
        with self.tracer.span("action.collect"):
            rows = out.select("*", F.xxhash64(*out.columns).alias("h")).collect()
        self.last_rows = rows
        return curated_checksum(rows)

    def docs(self, spark):
        return spark.read.parquet(str(self.doc_file))

    def verify(self, spark) -> Verified:
        """Checks the rows of the last pass (the cold pass) on the driver.

        The reference is the package's DuckDB oracle for ``curate_corpus``
        (``oracle.py``) over the same input: every output row must equal
        the oracle's row for its id, and no row may be missing or extra.
        On top, the rows must keep the invariants the input planted: a
        planted cluster whose non-minimum member shows up as a keeper was
        not merged (up to ``1 - RECALL_BOUND`` of the clusters may miss,
        the LSH recall bound), and every row must pass
        :func:`curated_row_errors`."""
        rows = self.last_rows
        cols, ref = oracle.run(
            DQ.QUERIES["curate_corpus"][1], {"documents": self.doc_file}, threads=self.slots
        )
        got = {r.id: tuple(oracle.norm(r[c]) for c in cols) for r in rows}
        want = {row[cols.index("id")]: row for row in ref}
        ids = got.keys() | want.keys()
        bad = {i for i in ids if got.get(i) != want.get(i)}
        if len(got) != len(rows) or len(want) != len(ref):
            self.problems.append("duplicate ids in the curated output or the oracle's")
        n_clusters = len(inputs.planted_clusters(self.records))
        missed = {r.id - r.id % inputs.PLANT_PERIOD for r in rows if _planted(r.id) and r.id % inputs.PLANT_PERIOD}
        if len(missed) > (1 - RECALL_BOUND) * n_clusters:
            self.problems.append(f"{len(missed)} of {n_clusters} planted clusters not merged in the output")
        bad |= curated_row_errors(rows)
        return Verified({"full": curated_checksum(rows)}, len(ids), len(bad), self.problems)

    def detect_input(self, spark):
        # Each document as a one-turn conversation: the stage-1 layer's
        # cost on this workload's text.
        return self.docs(spark).select(
            F.col("doc_id").cast("string").alias("conv_id"), F.lit(0).alias("turn_idx"), "text"
        )

    def scan(self, spark):
        return self.docs(spark)

    def probes(self, spark) -> dict:
        tr = self.tracer
        docs = self.docs(spark).repartition(spark.sparkContext.defaultParallelism).persist()
        _force(docs, F.count("*"), F.bit_xor(F.xxhash64("doc_id", "text")))
        m = {}
        with tr.span("operators.dedup.minhash_signatures") as rec:
            sigs = D.minhash_signatures(docs).persist()
            _force(sigs, F.count("*"), F.bit_xor(F.xxhash64("id", "signature")))
        m["operators.dedup.minhash_signatures_s"] = tr.duration(rec)
        with tr.span("operators.dedup.lsh_candidate_pairs") as rec:
            n_cands = _force(D.lsh_candidate_pairs(sigs, 4, 4, max_bucket_size=10_000), F.count("*"))[0]
        m["operators.dedup.lsh_candidate_pairs_s"] = tr.duration(rec)
        m["operators.dedup.lsh_candidate_pairs"] = n_cands
        with tr.span("operators.dedup.minhash_dedup_pairs") as rec:
            pairs = D.minhash_dedup_pairs(docs, threshold=0.5).persist()
            n_pairs = _force(pairs, F.count("*"), F.bit_xor(F.xxhash64("id_a", "id_b")))[0]
        m["operators.dedup.minhash_dedup_pairs_s"] = tr.duration(rec)
        m["operators.dedup.verified_pairs"] = n_pairs
        m["operators.dedup.verify_yield"] = n_pairs / max(n_cands, 1)
        with tr.span("operators.dedup.substring_dup_stats") as rec:
            _force(D.substring_dup_stats(docs, k=5), F.count("*"), F.sum("dup_words"))
        m["operators.dedup.substring_dup_stats_s"] = tr.duration(rec)
        with tr.span("operators.clusters.leakage_safe_split") as rec:
            split = {r.id: (r.keeper_id, r.split) for r in leakage_safe_split(docs, pairs, id_col="doc_id").collect()}
        m["operators.clusters.leakage_safe_split_s"] = tr.duration(rec)
        m["operators.clusters.planted_recall"] = recall = planted_recall(split, self.records)
        if recall < RECALL_BOUND:
            self.problems.append(f"planted recall {recall:.3f} below {RECALL_BOUND}")
        sides: dict = {}
        for keeper, side in split.values():
            sides.setdefault(keeper, set()).add(side)
        straddling = sum(len(s) > 1 for s in sides.values())
        if straddling:
            self.problems.append(f"{straddling} clusters straddle the train/test split")
        with tr.span("operators.textstats.curation_features") as rec:
            feats = TS.curation_features(docs)
            _force(feats, F.count("*"), F.sum("n_bpe_tokens"), F.bit_xor(F.xxhash64("quality")))
        m["operators.textstats.curation_features_s"] = tr.duration(rec)
        with tr.span("operators.curation.token_budget_mix") as rec:
            mixed = token_budget_mix(
                feats.join(docs.select(F.col("doc_id").alias("id"), "lang"), "id"),
                CURATE_BUDGETS,
                default_budget=CURATE_DEFAULT_BUDGET,
                id_col="id",
                tokens_col=F.col("n_bpe_tokens"),
            )
            _force(mixed, F.count("*"), F.sum("cum_tokens"))
        m["operators.curation.token_budget_mix_s"] = tr.duration(rec)
        for df in (pairs, sigs, docs):
            df.unpersist()
        return m


def curated_checksum(rows) -> tuple:
    """(rows, sum cum_tokens, sum n_bpe_tokens, xor of row hashes)."""
    return (
        len(rows),
        sum(r.cum_tokens for r in rows),
        sum(r.n_bpe_tokens for r in rows),
        _xor(r.h for r in rows),
    )


def planted_recall(split: dict, n_docs: int) -> float:
    """Share of planted clusters whose members all resolve to the
    cluster's minimum id as keeper."""
    clusters = inputs.planted_clusters(n_docs)
    whole = sum(all(split.get(i, (None,))[0] == c[0] for i in c) for c in clusters)
    return whole / max(len(clusters), 1)


def _md5_key(doc_id: int) -> str:
    return hashlib.md5(str(doc_id).encode()).hexdigest()


def _planted(doc_id: int) -> bool:
    return doc_id % inputs.PLANT_PERIOD < inputs.PLANT_SIZE


def curated_row_errors(rows) -> set:
    """Ids of output rows that break a curation invariant: on the test side of
    the split (md5 of the row's own id, which a kept row is the keeper
    of), below the quality gate, above the duplication gate, or a
    running token total that is not the inclusive md5-order sum or
    exceeds the language budget."""
    bad = set()
    for r in rows:
        if _md5_key(r.id)[0] in TEST_NIBBLES or r.quality < 0.5 or r.dup_frac > 0.5:
            bad.add(r.id)
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        budget = CURATE_BUDGETS.get(lang, CURATE_DEFAULT_BUDGET)
        running = 0
        for r in sorted(rs, key=lambda r: (_md5_key(r.id), r.id)):
            running += r.n_bpe_tokens
            if r.cum_tokens != running or r.cum_tokens > budget:
                bad.add(r.id)
    return bad


WORKLOADS = {w.name: w for w in (ExtractHtml, Curate)}


# -- layer probes shared by every workload -----------------------------------


def core_probes(texts: list) -> tuple:
    """Single-threaded driver timing of the stage-1 kernel's parts over
    ``texts``. Returns (metrics, kernel microseconds per turn), where the
    kernel is what the detect UDF runs per turn: tokenize, propose,
    decode every span."""
    cfg = DEFAULT_CONFIG
    capped = [(t or "")[: cfg.max_len] for t in texts]
    n = len(capped)

    def best_of(fn):
        return _median([_timed(fn)[0] for _ in range(PROBE_REPEATS)])

    nodes = [tokenize(c) for c in capped]
    spans = [propose_spans(ns, len(c), cfg) for ns, c in zip(nodes, capped)]
    frags = [c[s.start : s.end] for c, ss in zip(capped, spans) for s in ss]
    tok_s = best_of(lambda: [tokenize(c) for c in capped])
    prop_s = best_of(lambda: [propose_spans(ns, len(c), cfg) for ns, c in zip(nodes, capped)])
    dec_s = best_of(lambda: [decode_text(f) for f in frags])
    orc_s = best_of(lambda: [extract_turn(t, cfg) for t in texts])
    metrics = {
        "core.tokenizer.us_per_turn": 1e6 * tok_s / n,
        "core.tokenizer.nodes_per_turn": sum(map(len, nodes)) / n,
        "core.proposal.us_per_turn": 1e6 * prop_s / n,
        "core.proposal.spans_per_turn": len(frags) / n,
        "core.decoder.us_per_span": 1e6 * dec_s / max(len(frags), 1),
        "core.oracle.us_per_turn": 1e6 * orc_s / n,
    }
    return metrics, 1e6 * (tok_s + prop_s + dec_s) / n


def stage1_probes(wl: Workload, spark, kernel_us: float) -> tuple:
    """Detect-only and fused-only passes over the workload's records.
    Returns the metrics and the detect spans (for the event log's Arrow
    byte counts)."""
    tr = wl.tracer
    src = wl.detect_input(spark)
    n_rows = _force(src, F.count("*"))[0]
    detect_spans = []
    for _ in range(PROBE_REPEATS):
        with tr.span("operators.detect.detect") as rec:
            proposed = _force(detect(src), F.sum(F.size("spans")))[0]
        detect_spans.append(rec)
    detect_s = _median([tr.duration(r) for r in detect_spans])
    detected = detect(src).persist()
    _force(detected, F.sum(F.size("spans")))
    fused_s = []
    for _ in range(PROBE_REPEATS):
        with tr.span("operators.fused.decode_reassemble_fused") as rec:
            kept = extraction_checksum(decode_reassemble_fused(detected))[2]
        fused_s.append(tr.duration(rec))
    detected.unpersist()
    return {
        "operators.detect.pass_s": detect_s,
        "operators.detect.kernel_share": kernel_us * 1e-6 * n_rows / wl.slots / detect_s,
        "operators.fused.pass_s": _median(fused_s),
        "operators.fused.kept_span_ratio": kept / max(proposed, 1),
    }, detect_spans


@dataclass
class Probed:
    common: dict  # layer metrics every workload reports
    specific: dict  # this workload's own layer metrics
    detect_spans: list


def probe_layers(wl: Workload, spark, seed: int) -> Probed:
    """The traced run's layer probes, in the run's session."""
    core, kernel_us = core_probes(wl.sample_texts(seed))
    stage1, detect_spans = stage1_probes(wl, spark, kernel_us)
    common = {
        **core,
        **stage1,
        "sources.scan_partitions": wl.scan(spark).rdd.getNumPartitions(),
        "sources.input_mb": sum(p.stat().st_size for p in data_files(wl.inp.path)) / MB,
    }
    return Probed(common, wl.probes(spark), detect_spans)


def arrow_mb(log, spans: list) -> tuple:
    """Arrow bytes to and from the Python workers per probe pass."""
    ids = {r["id"] for r in spans}
    tasks = log.tasks([j for j in log.jobs if j.span in ids])
    per = max(len(spans), 1) * MB
    return (
        eventlog.sql_bytes(tasks, eventlog.ARROW_TO_PYTHON) / per,
        eventlog.sql_bytes(tasks, eventlog.ARROW_FROM_PYTHON) / per,
    )
