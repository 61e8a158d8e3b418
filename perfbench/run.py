#!/usr/bin/env python3
"""Pipeline benchmark: ``run_pipeline`` cold, resumed and recovered.

    python3 perfbench/run.py --workload chat-hash --seed 42 --seconds 5 \
        --trace 0

One closed-loop client: this process calls ``run_pipeline`` on
``local[nproc]`` and waits for it to return.  A run sets up (SparkSession
plus a warm-up pipeline on a tiny input), then measures whole cycles until
``--seconds`` have passed.  A cycle is three phases on one output root:

* cold    - the output root starts empty;
* resume  - the same call again, repeated; every stage resumes;
* recover - the manifests of ``facts`` and every later stage are deleted
            first (a crash after the UDF stage committed), then the call.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs one
untraced cold phase, then a traced cycle, and prints the per-layer
metrics; see README.md in this directory.  The last line of stdout is the
JSON result; the line before it is the run's host/session/input record.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

RESUMES = 5  # resume phases per cycle; resume_s is their median
PARITY_SENTENCES = 24
# ROADMAP anchor: the 40k-turn hash corpus at seed 42 yields this many
# prediction rows; checked in the traced chat-hash run
ANCHOR_ROWS = 161_681


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _driver_mem() -> str:
    """A quarter of the host's memory, between 2 and 16 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{max(2, min(16, kb // (4 << 20)))}g"


def _openblas() -> dict:
    import ctypes
    import glob

    import numpy

    libs = glob.glob(os.path.join(os.path.dirname(numpy.__file__), "..",
                                  "numpy.libs", "*openblas*"))
    out = {"numpy_blas": numpy.__config__.CONFIG["Build Dependencies"]
           ["blas"].get("version")}
    for path in libs:
        lib = ctypes.CDLL(path)
        for key, names in (("openblas_config", ("openblas_get_config64_",
                                                "openblas_get_config")),
                           ("openblas_core", ("openblas_get_corename64_",
                                              "openblas_get_corename"))):
            fn = next((getattr(lib, n) for n in names if hasattr(lib, n)),
                      None)
            if fn is not None:
                fn.restype = ctypes.c_char_p
                out[key] = fn().decode()
    return out


def host_record(nproc: int) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": nproc,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        **_openblas(),
        "OPENBLAS_CORETYPE": os.environ.get("OPENBLAS_CORETYPE", "unset"),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEM": os.environ["SPARK_DRIVER_MEM"],
    }


def start_spark(cores: int):
    from text2nkg_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]",
                      extra={"spark.ui.showConsoleProgress": "false",
                             "spark.driver.extraJavaOptions":
                             "-Xms" + os.environ["SPARK_DRIVER_MEM"]})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    """One workload's inputs, session and output root."""

    def __init__(self, spark, workload, inp: dict, root: str):
        from text2nkg_spark.config import PipelineConfig

        self.spark = spark
        self.w = workload
        self.inp = inp
        self.root = root
        # what jobs/run_extraction.py builds: defaults plus the scorer
        self.cfg = PipelineConfig(scorer=workload.scorer)
        self.bind(spark)

    def bind(self, spark) -> None:
        self.spark = spark
        self.transcripts = spark.read.parquet(self.inp["transcripts"])

    def pipeline(self, root: str | None = None) -> None:
        from text2nkg_spark.plans.pipeline import run_pipeline

        run_pipeline(self.spark, self.transcripts, root or self.root,
                     self.cfg)


def setup(nproc: int, warm_inp: dict) -> tuple[object, float]:
    """SparkSession start plus one warm-up pipeline on a tiny input: the
    Python workers spawn and the JVM loads its classes here."""
    from inputs import WARMUP

    root = os.path.join(WORK, "runs", "warmup")
    shutil.rmtree(root, ignore_errors=True)
    os.sync()  # see Cycle.phase
    t0 = time.perf_counter()
    spark = start_spark(nproc)
    Bench(spark, WARMUP, warm_inp, root).pipeline()
    elapsed = time.perf_counter() - t0
    shutil.rmtree(root, ignore_errors=True)
    return spark, elapsed


class Cycle:
    """Runs the phases of one cycle and checks each phase's outputs.

    ``phases`` holds (phase, seconds, ok) in order; a phase that raised or
    failed a check has ok=False and its reasons in ``errors``.
    """

    def __init__(self, bench: Bench, seed: int, tracer=None):
        from checks import StageHasher

        self.b = bench
        self.seed = seed
        self.tracer = tracer
        self.hasher = StageHasher(bench.root)
        self.phases: list[tuple[str, float, bool]] = []
        self.errors: list[str] = []
        self.rebuilt: dict[str, list[str]] = {}
        self.cold_hashes: dict[str, str] = {}
        self.cold_window = (0.0, 0.0)
        self.peak_rss_mb = 0.0

    def _timed(self, phase: str) -> tuple[float, str | None]:
        import contextlib

        from tracing import RssSampler

        sampler = RssSampler() if phase == "cold" else None
        span = (self.tracer.phase_span(phase) if self.tracer
                else contextlib.nullcontext())
        err = None
        t_wall = time.time()
        t0 = time.perf_counter()
        with sampler or contextlib.nullcontext(), span:
            try:
                self.b.pipeline()
            except Exception:  # a failed phase is counted, not fatal
                err = traceback.format_exc()
        elapsed = time.perf_counter() - t0
        if phase == "cold":
            self.peak_rss_mb = sampler.peak_mb
            self.cold_window = (t_wall, time.time())
        return elapsed, err

    def phase(self, phase: str) -> float:
        from checks import (
            RECOVERED, STAGES, decode_parity, delete_recovered_manifests,
            manifest_mtimes, rebuilt_stages)

        root = self.b.root
        if phase == "cold":
            shutil.rmtree(root, ignore_errors=True)
        elif phase == "recover":
            delete_recovered_manifests(root)
        # write back what earlier phases and deletions left dirty, so the
        # disk's writeback and discards do not land inside this phase
        os.sync()
        before = manifest_mtimes(root)
        elapsed, err = self._timed(phase)
        errs = [f"{phase} raised:\n{err}"] if err else []
        if not err:
            try:
                rebuilt = rebuilt_stages(before, manifest_mtimes(root))
                self.rebuilt.setdefault(phase, rebuilt)
                want = {"cold": list(STAGES), "resume": [],
                        "recover": list(RECOVERED)}[phase]
                if rebuilt != want:
                    errs.append(f"{phase} rebuilt {rebuilt}, want {want}")
                hashes = self.hasher.all()
                if phase == "cold":
                    self.cold_hashes = hashes
                    errs += decode_parity(root, self.b.cfg, _space(),
                                          self.seed, PARITY_SENTENCES)
                else:
                    errs += [f"{phase}: {s} content hash {h} != cold "
                             f"{self.cold_hashes.get(s)}"
                             for s, h in hashes.items()
                             if h != self.cold_hashes.get(s)]
            except Exception:  # a check that cannot run is a failed check
                errs.append(f"{phase} check raised:\n{traceback.format_exc()}")
        self.phases.append((phase, elapsed, not errs))
        self.errors += errs
        for e in errs:
            _log(e)
        _log(f"{phase}: {elapsed:.3f} s{'' if not errs else ' FAILED'}")
        return elapsed

    def run(self) -> None:
        self.phase("cold")
        for _ in range(RESUMES):
            self.phase("resume")
        self.phase("recover")

    def times(self, phase: str) -> list[float]:
        return [t for p, t, _ok in self.phases if p == phase]


def _space():
    from text2nkg_spark.plans.pipeline import default_label_space

    return default_label_space()


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def timed_run(bench: Bench, seed: int, seconds: float, setup_s: float):
    """Whole cycles until ``seconds`` have passed; medians over cycles."""
    cycles = []
    t0 = time.perf_counter()
    last = 0.0
    # whole cycles only: another one starts if it should end in time
    while not cycles or time.perf_counter() - t0 + last <= seconds:
        t_cycle = time.perf_counter()
        c = Cycle(bench, seed)
        c.run()
        cycles.append(c)
        last = time.perf_counter() - t_cycle
    def med(phase: str) -> float:
        return statistics.median(t for c in cycles for t in c.times(phase))

    metrics = {
        "setup_s": _metric(setup_s, "s"),
        "cold_s": _metric(med("cold"), "s"),
        "resume_s": _metric(med("resume"), "s"),
        "recover_s": _metric(med("recover"), "s"),
        "peak_rss_mb": _metric(
            statistics.median(c.peak_rss_mb for c in cycles), "MB"),
    }
    return cycles, metrics


def _udf_counts(root: str, cfg) -> tuple[int, int]:
    """Sentences the UDF enumerates candidates for, and the candidates."""
    from checks import read_stage
    from text2nkg_spark.candidates import enumerate_triples
    from text2nkg_spark.operators.extraction import _flat_mention_array

    sents = read_stage(root, "sentences", ["m_starts", "m_ends"])
    n_sent = n_cand = 0
    for s, e in zip(sents["m_starts"], sents["m_ends"]):
        if len(s):
            k = enumerate_triples(_flat_mention_array(s, e),
                                  cfg.max_seq_length).shape[0]
            n_sent += k > 0
            n_cand += k
    return n_sent, n_cand


def traced_run(bench: Bench, seed: int, nproc: int):
    """A traced cycle, an untraced cold phase, the anchor count
    (chat-hash) and the 1->4 scaling diagnostic.  Returns (cycles,
    metrics, spans, checks) where checks maps each check made outside a
    phase to its errors."""
    from checks import STAGES, stage_rows
    from tracing import Tracer, spark_stage_counters, udf_phase_times

    spark = bench.spark
    tracer = Tracer(spark.sparkContext)
    cyc = Cycle(bench, seed, tracer)
    prof_key = "spark.sql.pyspark.udf.profiler"
    with tracer.span(f"{bench.w.name} traced cycle", "run"), \
            tracer.installed():
        spark.conf.set(prof_key, "perf")
        cyc.phase("cold")
        spark.conf.unset(prof_key)
        counters, jobs, idle = spark_stage_counters(
            spark.sparkContext, "cold", *cyc.cold_window)
        udf = udf_phase_times(spark)
        cyc.phase("resume")
        cyc.phase("recover")
    stage_rows_ = {st: stage_rows(bench.root, st) for st in STAGES}
    n_sent, n_cand = _udf_counts(bench.root, bench.cfg)

    # the traced cold is the first at full size after set-up, as in the
    # timed runs; this untraced cold runs second, so trace.overhead leans
    # high rather than low
    untraced = Cycle(bench, seed)
    t4 = untraced.phase("cold")

    checks = {}
    if bench.w.name == "chat-hash":
        checks["anchor"] = _anchor_errors(bench)

    # 1 -> 4 scaling: the same cold phase on local[1] (same JVM)
    spark.stop()
    spark1 = start_spark(1)
    bench.bind(spark1)
    root1 = bench.root + "-local1"
    shutil.rmtree(root1, ignore_errors=True)
    t1 = time.perf_counter()
    bench.pipeline(root1)
    t1 = time.perf_counter() - t1
    shutil.rmtree(root1, ignore_errors=True)

    walls = tracer.stage_walls("cold")
    cold_wall = tracer.phase_wall("cold")
    m: dict[str, dict] = {}
    for st in ("input_fingerprint",) + STAGES:
        c = counters.get(st, {})
        rows = (bench.inp["turns"] if st == "input_fingerprint"
                else stage_rows_[st])
        m[f"{st}.wall_s"] = _metric(walls.get(st, 0.0), "s")
        m[f"{st}.jobs"] = _metric(c.get("jobs", 0), "count")
        m[f"{st}.exec_run_s"] = _metric(c.get("exec_run_s", 0.0), "s")
        m[f"{st}.exec_cpu_s"] = _metric(c.get("exec_cpu_s", 0.0), "s")
        m[f"{st}.shuffle_mb"] = _metric(c.get("shuffle_mb", 0.0), "MB")
        m[f"{st}.rows"] = _metric(rows, "count")
    m["predictions.task_skew"] = _metric(
        counters.get("predictions", {}).get("task_skew", 0.0), "ratio")
    for phase in ("cold", "resume", "recover"):
        rebuilt = len(cyc.rebuilt.get(phase, []))
        m[f"manifest.rebuilt.{phase}"] = _metric(rebuilt, "count")
        m[f"manifest.resumed.{phase}"] = _metric(
            len(STAGES) - rebuilt, "count")
    for k in ("enumerate_s", "score_s", "decode_s", "cpu_s"):
        m[f"udf.{k}"] = _metric(udf.get(k, 0.0), "s")
    m["udf.sentences"] = _metric(n_sent, "count")
    m["udf.candidates"] = _metric(n_cand, "count")
    m["udf.facts_per_candidate"] = _metric(
        stage_rows_["predictions"] / max(1, n_cand), "ratio")
    m["canonicalize.surfaces"] = _metric(
        stage_rows_["surface_to_entity"], "count")
    m["canonicalize.distributed"] = _metric(int(bool(tracer.distributed_g4)),
                                            "bool")
    m["spark.jobs"] = _metric(jobs, "count")
    m["spark.idle_s"] = _metric(idle, "s")
    m["pipeline.glue_s"] = _metric(cold_wall - sum(walls.values()), "s")
    m["trace.overhead"] = _metric(cold_wall / t4, "ratio")
    m["scaling.eff_1_to_4"] = _metric(t1 / (nproc * t4), "ratio")
    coverage = sum(walls.values()) / cold_wall
    _log(f"traced cold: stage spans cover {coverage:.3f} of {cold_wall:.2f} s"
         f"; local[1] cold {t1:.2f} s vs local[{nproc}] {t4:.2f} s")
    checks["span_coverage"] = (
        [] if coverage >= 0.9 else
        [f"stage spans cover {coverage:.3f} < 0.9 of the traced cold"])
    return [cyc, untraced], m, tracer.spans, checks


def _anchor_errors(bench: Bench) -> list[str]:
    """The ROADMAP corpus (5000 x 8 turns, seed 42, hash scorer) must
    yield ANCHOR_ROWS prediction rows."""
    from inputs import Workload, ensure_input
    from text2nkg_spark.plans.pipeline import extract

    w = Workload("roadmap-40k", 5000, 8, 0.02, "hash")
    inp = ensure_input(w, 42, os.path.join(WORK, "inputs"))
    try:
        n = extract(bench.spark.read.parquet(inp["transcripts"]), bench.cfg,
                    _space()).count()
    except Exception:  # counted as a failed check
        return [f"anchor extraction raised:\n{traceback.format_exc()}"]
    _log(f"anchor: {n} prediction rows on the 40k seed-42 corpus")
    return [] if n == ANCHOR_ROWS else [
        f"anchor: {n} prediction rows, want {ANCHOR_ROWS}"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "text2nkg_spark",
                                       "__init__.py")):
        _log(f"no text2nkg_spark package beside {HERE}; nothing to run")
        return 2
    from inputs import WARMUP, WORKLOADS, ensure_input

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {list(WORKLOADS)}")
        return 2
    w = WORKLOADS[args.workload]

    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = _driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, REPO)

    # inputs are made before anything is timed
    inputs_dir = os.path.join(WORK, "inputs")
    inp = ensure_input(w, args.seed, inputs_dir)
    warm = ensure_input(WARMUP, 0, inputs_dir)
    record = {"workload": w.name, "seed": args.seed, "trace": args.trace,
              "turns": inp["turns"], "input_hash": inp["input_hash"],
              "host": host_record(nproc)}

    spark, setup_s = setup(nproc, warm)
    root = os.path.join(WORK, "runs", f"{w.name}-s{args.seed}")
    bench = Bench(spark, w, inp, root)
    spans = None
    checks: dict[str, list[str]] = {}  # checks made outside a phase
    try:
        if args.trace:
            cycles, metrics, spans, checks = traced_run(
                bench, args.seed, nproc)
        else:
            cycles, metrics = timed_run(bench, args.seed, args.seconds,
                                        setup_s)
    finally:
        stop_spark(bench.spark)
        shutil.rmtree(root, ignore_errors=True)

    phases = [p for c in cycles for p in c.phases]
    failed = (sum(not ok for _p, _t, ok in phases)
              + sum(bool(e) for e in checks.values()))
    attempted = len(phases) + len(checks)
    errors = [e for c in cycles for e in c.errors]
    errors += [e for errs in checks.values() for e in errs]
    record["phases"] = [[p, round(t, 4), ok] for p, t, ok in phases]
    record["error_rate"] = failed / attempted
    record["errors"] = [e.splitlines()[0] for e in errors]
    if spans is not None:
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{w.name}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"record": record, "spans": spans}, f, indent=1)
        record["span_file"] = os.path.relpath(path, REPO)
    print("record " + json.dumps(record, sort_keys=True), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
