#!/usr/bin/env python3
"""Closed-loop benchmark of the extraction engine on one workload.

    python3 perfbench/run.py --workload extract_html --seed 1 --seconds 10 --trace 0 \
        --master 'local[4]' --driver-mem 3g \
        --max-partition-bytes 134217728 --open-cost-bytes 134217728

(the settings as ``BENCHMARK.json``'s command passes them).

Run from the root of a checkout. One client runs passes back to back:
each starts after the previous one finished. The run

1. generates (or reuses) the seeded input under ``.perfbench_work/``;
2. sets up — a fresh JVM via ``build_session`` plus one untimed cold
   pass — and reports that time as ``setup_s``;
3. verifies the output once against an independent reference (outside
   any timed region) and fixes the expected checksum;
4. makes the workload's untimed warm-up rounds, then times rounds of
   passes for ``--seconds`` and at least the workload's ``min_rounds``
   rounds (``MIN_ROUNDS`` when traced), checking every pass's checksum
   and reading the CPU time every process of the run used.

``--trace 0`` prints the end-to-end metrics (and, on ``extract_html``,
whose rounds pair a full pass with a one-slot pass, the scaling
efficiency). ``--trace 1`` runs the session with the Spark event log on,
alternates untraced passes with span-traced ones, makes the workload's
extra traced passes, runs the layer probes and prints the per-layer
metrics. The last stdout line is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``; the lines above it list every
metric and diagnostic by name with its unit. The exit code is 0 only
when the output matched the reference and every pass matched it.

All files the run writes (inputs, Spark scratch, event logs, traces)
stay under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback
import uuid
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
MB = 1 << 20
#: Fewest timed rounds a traced run makes, however long they take. The
#: untraced run makes at least the workload's ``min_rounds``, so a window
#: that holds one slow ``curate`` pass on some runs and two on others
#: does not change what the median is taken over. The passes right after
#: the cold one still JIT-compile; the workload's ``warmup_rounds``
#: untimed rounds (one when traced) run before the first timed one.
MIN_ROUNDS = 2
#: Units of the declared metrics; the file also records the settings.
DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())
UNITS = {m["name"]: m["unit"] for m in DECLARED["end_to_end"] + DECLARED["per_layer"]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("extract_html", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # The settings have no defaults: BENCHMARK.json's command records them.
    ap.add_argument("--master", required=True)
    ap.add_argument("--driver-mem", required=True, help="driver JVM heap (SPARK_GRAFT_DRIVER_MEM)")
    ap.add_argument("--max-partition-bytes", type=int, required=True)
    ap.add_argument("--open-cost-bytes", type=int, required=True, help="equal to the split size: one file per scan partition")
    ap.add_argument(
        "--corrupt-expected",
        action="store_true",
        help="perturb the verified checksum (checks that a wrong expectation fails the run)",
    )
    return ap.parse_args(argv)


def prepare_env(args) -> None:
    """Keep every file the run and its children write inside WORK and
    make the package importable in the Python workers."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    sys.path[:0] = [str(ROOT), str(HERE)]


def session_conf(args, event_log: Path | None = None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.sql.files.maxPartitionBytes": str(args.max_partition_bytes),
        "spark.sql.files.openCostInBytes": str(args.open_cost_bytes),
    }
    if event_log is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_session(spark) -> None:
    """Stop the session and its gateway JVM and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class PassLog:
    """Closed-loop pass bookkeeping: every attempt, failure, time and
    CPU time."""

    def __init__(self, watch):
        self.watch = watch
        self.attempted = 0
        self.failed = 0
        self.times: dict = {}  # (variant, traced) -> [seconds] of matching passes
        self.cpu: dict = {}  # (variant, traced) -> [CPU seconds] of matching passes

    def run(self, wl, spark, variant: str, expected: dict | None, traced: bool = False):
        """One checked pass, with spans recorded when ``traced``.
        Returns (seconds, checksum); seconds is None when the pass
        raised or its checksum differs from ``expected``."""
        from workloads import CheckFailed

        self.attempted += 1
        wl.tracer.enabled = traced
        c0 = self.watch.cpu_seconds()
        t0 = time.perf_counter()
        try:
            with wl.tracer.span("pass", variant=variant):
                got = wl.run_pass(spark, variant)
        except CheckFailed as e:
            print(f"perfbench: {variant} pass failed its check: {e}", file=sys.stderr)
            self.failed += 1
            return None, None
        except Exception:  # noqa: BLE001 - a failed pass is counted, the loop goes on
            traceback.print_exc()
            self.failed += 1
            return None, None
        finally:
            wl.tracer.enabled = False
        dt = time.perf_counter() - t0
        cpu = self.watch.cpu_seconds() - c0
        if expected is not None and got != expected[variant]:
            print(f"perfbench: {variant} pass checksum {got} != verified {expected[variant]}", file=sys.stderr)
            self.failed += 1
            return None, got
        self.times.setdefault((variant, traced), []).append(dt)
        self.cpu.setdefault((variant, traced), []).append(cpu)
        return dt, got

    def loop(self, wl, spark, seconds: float, expected: dict, steps: list, min_rounds: int = MIN_ROUNDS) -> list:
        """Rounds of ``steps`` ((variant, traced) pairs) for ``seconds``
        and at least ``min_rounds`` rounds, every other round in reverse
        order so no step always runs first on a warming JVM. Returns the
        per-round {step: seconds} of rounds that all matched."""
        rounds = []
        t_end = time.perf_counter() + seconds
        n = 0
        while n < min_rounds or time.perf_counter() < t_end:
            order = steps if n % 2 == 0 else steps[::-1]
            n += 1
            r = {step: self.run(wl, spark, step[0], expected, step[1])[0] for step in order}
            if all(t is not None for t in r.values()):
                rounds.append(r)
        return rounds


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_env(args)
    try:
        import inputs
        import workloads
        from keras_ocr_spark.plans.session import build_session
    except ImportError as e:
        print(f"perfbench: cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    from tracing import ProcessWatch, Tracer

    slots = int(args.master[6:-1]) if args.master.startswith("local[") else os.cpu_count()
    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    log_dir = WORK / "eventlog" / run_id if args.trace else None
    if log_dir is not None:
        log_dir.mkdir(parents=True)
    tracer = Tracer(run_id, enabled=False)
    watch = ProcessWatch()
    watch.start()
    passes = PassLog(watch)
    spark = None
    metrics: dict = {}  # name -> (value, unit): the JSON line's metrics
    report: dict = {}  # name -> (value, unit): diagnostics printed above it
    try:
        inp = inputs.materialize(args.workload, args.seed, WORK / "inputs")
        wl = workloads.WORKLOADS[args.workload](inp, WORK, tracer, slots)
        report["input.records"] = (inp.n_records, wl.records_name)
        report["input.gen_s"] = (inp.gen_s, "s")
        report["input.cached"] = (int(inp.cached), "bool")

        # -- set-up: fresh JVM + one untimed cold pass --------------------
        t0 = time.perf_counter()
        spark = build_session(app_name="perfbench", master=args.master, extra_conf=session_conf(args, log_dir))
        t1 = time.perf_counter()
        _, cold_sum = passes.run(wl, spark, "full", None)
        build_s, cold_s = t1 - t0, time.perf_counter() - t1
        passes.times.clear()  # the cold pass is set-up, not a timed sample
        passes.cpu.clear()
        app_id = spark.sparkContext.applicationId
        if args.trace:
            tracer.spark_context = spark.sparkContext

        # -- once-per-run verification against the reference -------------
        t0 = time.perf_counter()
        verified = wl.verify(spark)
        report["run.verify_s"] = (time.perf_counter() - t0, "s")
        expected = dict(verified.expected)
        if args.corrupt_expected:
            expected = {k: (v[0], v[1] + 1) + tuple(v[2:]) for k, v in expected.items()}
        if verified.mismatched or verified.problems:
            print("perfbench: the cold pass's output differs from the reference", file=sys.stderr)
            passes.failed += 1
        elif cold_sum is not None and cold_sum != expected["full"]:
            print(f"perfbench: cold pass checksum {cold_sum} != verified {expected['full']}", file=sys.stderr)
            passes.failed += 1

        # -- untimed warm-up, then the timed closed loop -------------------
        steps = wl.trace_steps if args.trace else wl.timed_steps
        # A traced round holds two full passes, so one round warms it up.
        passes.loop(wl, spark, 0, expected, steps, min_rounds=1 if args.trace else wl.warmup_rounds)
        passes.times.clear()
        passes.cpu.clear()
        first_timed_span = len(tracer.spans)
        rounds = passes.loop(wl, spark, args.seconds, expected, steps, MIN_ROUNDS if args.trace else wl.min_rounds)
        if args.trace:
            for variant, traced in wl.trace_extras:
                passes.run(wl, spark, variant, expected, traced)
        rps = [wl.records_of("full") / t for t in passes.times.get(("full", False), [])]
        cpu_ms = [1e3 * c / wl.records_of("full") for c in passes.cpu.get(("full", False), [])]
        e2e = {
            "cpu_ms_per_record": (statistics.median(cpu_ms) if cpu_ms else 0.0, UNITS["cpu_ms_per_record"]),
            "setup_s": (build_s + cold_s, UNITS["setup_s"]),
        }
        # Printed, not declared: on a shared host its run-to-run spread
        # exceeds any bound the benchmark may set (see README.md).
        report["records_per_s"] = (statistics.median(rps) if rps else 0.0, "records/s")
        report["records_per_s.passes"] = (len(rps), "count")
        report["records_per_s.best"] = (max(rps, default=0.0), "records/s")
        if len(rps) >= 2:
            q1, _, q3 = statistics.quantiles(rps, n=4)
            report["records_per_s.q1"] = (q1, "records/s")
            report["records_per_s.q3"] = (q3, "records/s")

        if ("one_slot", False) in steps:
            eff = [
                (wl.records_of("full") / r[("full", False)])
                / (slots * wl.records_of("one_slot") / r[("one_slot", False)])
                for r in rounds
            ]
            report["scaling_eff"] = (statistics.median(eff) if eff else 0.0, "ratio")
            report["scaling_eff.pairs"] = (len(eff), "count")

        if args.trace:
            report.update(e2e)
            traced_rps = [wl.records_of("full") / t for t in passes.times.get(("full", True), [])]
            overhead = 1.0 - statistics.median(traced_rps) / report["records_per_s"][0] if rps and traced_rps else 0.0
            pass_spans = [
                r for r in tracer.spans[first_timed_span:] if r["name"] == "pass" and r["variant"] == "full"
            ]
            tracer.enabled = True
            probed = workloads.probe_layers(wl, spark, args.seed)
            tracer.enabled = False
            stop_session(spark)
            spark = None
            metrics.update(layer_metrics(wl, log_dir / app_id, pass_spans, probed, build_s, cold_s, report))
            metrics["trace.overhead_share"] = (overhead, UNITS["trace.overhead_share"])
            trace_file = WORK / "traces" / f"{run_id}.json"
            tracer.write(trace_file)
            print(f"{args.workload}  trace written to {trace_file.relative_to(ROOT)}")
        else:
            watch.sample()
            metrics.update(e2e)
            metrics["peak_rss_mb"] = (watch.peak_bytes / MB, UNITS["peak_rss_mb"])
    finally:
        if spark is not None:
            stop_session(spark)
        watch.stop()
        leftovers = watch.reap()
        if leftovers:
            print(f"perfbench: had to signal leftover processes {leftovers}", file=sys.stderr)

    for p in verified.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    report["failed_ratio"] = (passes.failed / max(passes.attempted, 1), "ratio")
    report["record_mismatch_ratio"] = (verified.mismatched / max(verified.checked, 1), "ratio")
    report["records_checked"] = (verified.checked, "count")
    correct = passes.failed == 0 and verified.mismatched == 0 and not verified.problems
    for name, (value, unit) in {**metrics, **report}.items():
        print(f"{args.workload}  {name} = {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": passes.attempted,
                "failed": passes.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


def layer_metrics(wl, log_file: Path, pass_spans: list, probed, build_s, cold_s, report: dict) -> dict:
    """Per-layer metrics (name -> (value, unit)) from the probes, the
    set-ups and the event log of the traced passes. Workload-specific
    layer metrics and self times go to ``report``."""
    import eventlog
    import workloads

    tr = wl.tracer
    log = eventlog.parse(log_file)
    m = dict(probed.common)
    to_py, from_py = workloads.arrow_mb(log, probed.detect_spans)
    m["operators.detect.arrow_mb_to_python"] = to_py
    m["operators.detect.arrow_mb_from_python"] = from_py
    m["plans.session.build_s"] = build_s
    m["plans.session.cold_pass_s"] = cold_s
    per_pass = [
        eventlog.spark_metrics(log, [j for j in log.jobs if j.span is not None and tr.ancestor(j.span, "pass") is p])
        for p in pass_spans
    ]
    for k in eventlog.SPARK_METRICS:
        m[k] = statistics.median(pm[k] for pm in per_pass) if per_pass else 0.0
    for k, v in {**wl.layer_report(log), **probed.specific}.items():
        report[k] = (v, LAYER_UNITS[k])
    report["trace.spans"] = (len(tr.spans), "count")
    for name, st in tr.self_times().items():
        report[f"self_s.{name}"] = (st["self_s"], "s")
    return {k: (v, UNITS[k]) for k, v in m.items()}


#: Units of the workload-specific layer metrics, printed above the JSON
#: line (they are not declared in BENCHMARK.json).
LAYER_UNITS = {
    "plans.checkpoint.first_run_s": "s",
    "plans.checkpoint.resume_run_s": "s",
    "plans.checkpoint.noop_resume_ms": "ms",
    "plans.checkpoint.completed_buckets_ms": "ms",
    "plans.checkpoint.read_committed_s": "s",
    "plans.checkpoint.input_read_amplification": "ratio",
    "plans.checkpoint.readback_share": "ratio",
    "plans.checkpoint.output_mb": "MB",
    "plans.checkpoint.output_files": "count",
    "operators.dedup.minhash_signatures_s": "s",
    "operators.dedup.lsh_candidate_pairs": "count",
    "operators.dedup.lsh_candidate_pairs_s": "s",
    "operators.dedup.minhash_dedup_pairs_s": "s",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.substring_dup_stats_s": "s",
    "operators.clusters.leakage_safe_split_s": "s",
    "operators.clusters.planted_recall": "ratio",
    "operators.textstats.curation_features_s": "s",
    "operators.curation.token_budget_mix_s": "s",
}


if __name__ == "__main__":
    raise SystemExit(main())
