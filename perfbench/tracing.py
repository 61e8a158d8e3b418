"""Tracing for the benchmark's traced run, from outside the program.

* :class:`Tracer` records spans (name, start, end, parent) in memory around
  the public calls into each layer: every ``run_pipeline`` phase, every
  ``StageManifest.run_stage``, ``manifest.input_fingerprint`` and
  ``canonicalize.canonicalize_entities``.  ``run_pipeline`` resolves these
  names when it runs, so wrapping the module attributes is enough.
* Before each stage the tracer sets the Spark job group to
  ``<phase>/<stage>``; :func:`spark_stage_counters` then reads each group's
  jobs and stages from the AppStatusStore (works with the UI off).
* :func:`udf_phase_times` reads the ``spark.sql.pyspark.udf.profiler=perf``
  results for the extraction UDF.
* :class:`RssSampler` samples the resident memory of every process below
  the benchmark (the driver JVM and its Python workers) from ``/proc``.
"""

from __future__ import annotations

import contextlib
import os
import pstats
import threading
import time


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.phase = "-"
        self.distributed_g4: bool | None = None

    @contextlib.contextmanager
    def span(self, name: str, kind: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "kind": kind, "phase": self.phase,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(f"{self.phase}/{name}", name)

    @contextlib.contextmanager
    def phase_span(self, phase: str):
        self.phase = phase
        self._group("-")
        try:
            with self.span(phase, "phase") as rec:
                yield rec
        finally:
            self.sc.setJobGroup("-", "-")

    @contextlib.contextmanager
    def installed(self):
        """Wrap the layer entry points for the duration of the block."""
        from text2nkg_spark.operators import canonicalize
        from text2nkg_spark.plans import manifest

        orig_run_stage = manifest.StageManifest.run_stage
        orig_fp = manifest.input_fingerprint
        orig_canon = canonicalize.canonicalize_entities
        tracer = self

        def run_stage(man, spark, stage, input_fingerprint, build,
                      partition_by=None):
            resumed = bool(man.is_complete(stage, input_fingerprint))
            with tracer.span(stage, "stage", resumed=resumed):
                tracer._group(stage)
                try:
                    return orig_run_stage(man, spark, stage,
                                          input_fingerprint, build,
                                          partition_by)
                finally:
                    tracer._group("-")

        def input_fingerprint(df, *a, **kw):
            with tracer.span("input_fingerprint", "stage"):
                tracer._group("input_fingerprint")
                try:
                    return orig_fp(df, *a, **kw)
                finally:
                    tracer._group("-")

        def canonicalize_entities(*a, **kw):
            with tracer.span("canonicalize_entities", "call"):
                out = orig_canon(*a, **kw)
            tracer.distributed_g4 = not out["small_vocab"]
            return out

        manifest.StageManifest.run_stage = run_stage
        manifest.input_fingerprint = input_fingerprint
        canonicalize.canonicalize_entities = canonicalize_entities
        try:
            yield self
        finally:
            manifest.StageManifest.run_stage = orig_run_stage
            manifest.input_fingerprint = orig_fp
            canonicalize.canonicalize_entities = orig_canon

    def stage_walls(self, phase: str) -> dict[str, float]:
        return {s["name"]: s["end"] - s["start"] for s in self.spans
                if s["phase"] == phase and s["kind"] == "stage"}

    def phase_wall(self, phase: str) -> float:
        s = next(s for s in self.spans
                 if s["kind"] == "phase" and s["name"] == phase)
        return s["end"] - s["start"]


def _opt(o):
    return o.get() if o.isDefined() else None


def spark_stage_counters(sc, phase: str, t_start: float, t_end: float):
    """Per-stage Spark counters of one traced phase.

    Returns ({stage: {jobs, exec_run_s, exec_cpu_s, shuffle_mb,
    task_skew}}, total jobs, idle seconds) where idle is the part of
    [t_start, t_end] during which no Spark stage of the phase ran.
    """
    jvm = sc._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = sc._jsc.sc().statusStore()
    prefix = f"{phase}/"
    stage_of: dict[int, str] = {}
    jobs: dict[str, int] = {}
    for j in conv.asJava(store.jobsList(None)):
        group = _opt(j.jobGroup())
        if not group or not group.startswith(prefix):
            continue
        name = group[len(prefix):]
        jobs[name] = jobs.get(name, 0) + 1
        for sid in conv.asJava(j.stageIds()):
            stage_of[int(sid)] = name
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {n: {"jobs": c, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
               "shuffle_mb": 0.0, "task_skew": 0.0} for n, c in jobs.items()}
    busy = []
    heaviest: dict[str, tuple[float, int, int]] = {}
    for st in conv.asJava(store.stageList(None, False, False, quantiles,
                                          None)):
        name = stage_of.get(int(st.stageId()))
        sub, done = _opt(st.submissionTime()), _opt(st.completionTime())
        if name is None or sub is None:
            continue  # not this phase's, or skipped (shuffle reuse)
        d = out[name]
        run_s = st.executorRunTime() / 1e3
        d["exec_run_s"] += run_s
        d["exec_cpu_s"] += st.executorCpuTime() / 1e9
        d["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
        if done is not None:
            busy.append((sub.getTime() / 1e3, done.getTime() / 1e3))
        if run_s > heaviest.get(name, (-1.0, 0, 0))[0]:
            heaviest[name] = (run_s, st.stageId(), st.attemptId())
    for name, (_run, sid, att) in heaviest.items():
        summ = _opt(store.taskSummary(sid, att, quantiles))
        if summ is not None:
            med, mx = list(conv.asJava(summ.executorRunTime()))
            out[name]["task_skew"] = mx / med if med > 0 else 0.0
    covered, end = 0.0, t_start
    for a, b in sorted(busy):
        a, b = max(a, end), min(b, t_end)
        if b > a:
            covered += b - a
            end = b
    return out, sum(jobs.values()), max(0.0, (t_end - t_start) - covered)


def _udf_run_code():
    from text2nkg_spark.operators import extraction

    return next(c for c in extraction.extract_facts_fused.__code__.co_consts
                if getattr(c, "co_name", None) == "run")


def udf_phase_times(spark) -> dict[str, float]:
    """Cumulative seconds of the extraction UDF's phases from the perf
    profiler: the UDF body (``cpu``) and the calls it makes to enumerate
    candidates, score them and decode them."""
    results = spark._profiler_collector._perf_profile_results
    if not results:
        return {}
    stats = pstats.Stats()
    stats.add(*results.values())
    code = _udf_run_code()
    run_key = next(
        (k for k in stats.stats
         if k[2] == "run" and k[1] == code.co_firstlineno
         and os.path.basename(k[0]) == "extraction.py"),
        None)
    if run_key is None:
        return {}
    phases = {
        "enumerate_s": ("enumerate_triples", "_enumerate"),
        "score_s": ("hash_logits_batch", "log_softmax", "_sentence_logits"),
        "decode_s": ("decode_sentences_batch", "decode_sentence"),
    }
    out = {"cpu_s": stats.stats[run_key][3]}
    for phase, names in phases.items():
        out[phase] = sum(
            callers[run_key][3]
            for (_f, _l, fn), (_cc, _nc, _tt, _ct, callers)
            in stats.stats.items()
            if fn in names and run_key in callers)
    return out


def _descendants(root_pid: int) -> list[int]:
    """java and python processes below ``root_pid``.  A child the JVM is
    still spawning shares the JVM's pages until it execs and carries a
    thread name; counting it would count the JVM twice."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        comm = head.split("(", 1)[1]
        children.setdefault(int(tail.split()[1]), []).append(
            (int(entry), comm))
    out, todo = [], [root_pid]
    while todo:
        for pid, comm in children.get(todo.pop(), []):
            todo.append(pid)
            if comm.startswith(("java", "python")):
                out.append(pid)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed RSS of this process's descendants (the driver
    JVM and its Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total = sum(_rss_kb(p) for p in _descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb * 1024 / 1e6
