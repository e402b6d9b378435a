"""Per-layer tracing for one benchmark run, from the benchmark's side.

:class:`Tracer` wraps the pipeline layers' public functions so that each
call records a span and runs under its own Spark job group.  Spans nest;
a job belongs to the innermost span that was open when it was submitted
(AQE sub-jobs and broadcast jobs inherit the group).  After the run,
:meth:`Tracer.ledger` reads every grouped job's stages from the Spark
status store (filled even with ``spark.ui.enabled=false``) and sums them
per layer.

A lazy layer (``explode_shingles``, ``banded_pairs``) only builds a plan:
its span records the call but no jobs, because Spark runs its work inside
the next barrier, which belongs to another layer.  The ledger reports
that as it is rather than inventing a split.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import time
from dataclasses import dataclass, field

PKG = "mapreduce_minhash_lsh_spark"

# (module, function, layer).  signature_set_relation lives in
# similarity.py but is the MinHash signature barrier of the fused
# pipeline, so it is billed to the minhash layer.  similar_pairs is
# wrapped too: its own body runs the valve's count job, which would
# otherwise run outside every span.
WRAPPED = (
    ("sources.tables", "load_table", "tables"),
    ("operators.shingling", "explode_shingles", "shingling"),
    ("operators.similarity", "signature_set_relation", "minhash"),
    ("operators.minhash", "minhash_signatures_array", "minhash"),
    ("operators.lsh", "banded_pairs", "lsh"),
    ("operators.lsh", "candidate_volume_bound", "lsh"),
    ("operators.similarity", "similar_pairs", "similarity"),
    ("operators.similarity", "budgeted_overlap_counts", "similarity"),
    ("operators.dedup", "near_dup_groups", "dedup"),
    ("operators.bandstore", "cross_pairs_against_store", "bandstore"),
    ("operators.bandstore", "build_band_store", "bandstore"),
)
LAYERS = (
    "tables", "shingling", "minhash", "lsh", "similarity", "dedup",
    "bandstore", "sink",
)
LAYER_METRICS = (
    ("calls", "count"), ("wall_s", "s"), ("self_s", "s"), ("driver_s", "s"),
    ("jobs", "count"), ("tasks", "count"), ("exec_cpu_s", "s"),
    ("exec_run_s", "s"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"),
)
# Logical counters, taken by untimed actions after the traced run; a
# counter a workload does not produce reads 0.
COUNTERS = (
    ("tables.input_tasks", "count"), ("lsh.candidates", "count"),
    ("lsh.max_bucket", "count"), ("similarity.verified_pairs", "count"),
    ("similarity.precision", "ratio"), ("dedup.groups", "count"),
    ("bandstore.bytes_written", "bytes"), ("bandstore.write_amp", "ratio"),
)
GROUP_PREFIX = "perfbench-"
_MB = 1e6


@dataclass
class Span:
    gid: str
    layer: str
    name: str
    start: float
    parent: "Span | None"
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)


def _intervals_minus(base: tuple[float, float], holes: list[tuple[float, float]]):
    """``base`` minus the union of ``holes``, as a list of intervals."""
    out, lo = [], base[0]
    for s, e in sorted(holes):
        if e <= lo:
            continue
        if s > lo:
            out.append((lo, min(s, base[1])))
        lo = max(lo, e)
        if lo >= base[1]:
            break
    if lo < base[1]:
        out.append((lo, base[1]))
    return [(s, e) for s, e in out if e > s]


def _covered(intervals, cover) -> float:
    """Length of ``intervals`` covered by the union of ``cover``."""
    total = 0.0
    for s, e in intervals:
        total += (e - s) - sum(b - a for a, b in _intervals_minus((s, e), cover))
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.returns: dict[str, list] = {}
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    def span(self, layer: str, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                parent = tracer._stack[-1] if tracer._stack else None
                sp = Span(f"{GROUP_PREFIX}{next(tracer._ids)}", layer, name,
                          time.time(), parent)
                if parent is not None:
                    parent.children.append(sp)
                tracer.spans.append(sp)
                tracer._stack.append(sp)
                tracer.sc.setJobGroup(sp.gid, f"{layer}:{name}")
                self.sp = sp
                return sp

            def __exit__(self, *exc):
                self.sp.end = time.time()
                tracer._stack.pop()
                if tracer._stack:
                    top = tracer._stack[-1]
                    tracer.sc.setJobGroup(top.gid, f"{top.layer}:{top.name}")
                else:
                    tracer.sc.setLocalProperty("spark.jobGroup.id", None)
                    tracer.sc.setLocalProperty("spark.job.description", None)
                return False

        return _Ctx()

    # -- wrappers -------------------------------------------------------
    def install(self) -> None:
        """Replace every WRAPPED function, in every loaded module of the
        package that holds a reference to it, by a span-recording
        wrapper.  :meth:`uninstall` restores the originals."""
        for mod_name, fn_name, layer in WRAPPED:
            home = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(home, fn_name)
            wrapper = self._wrap(orig, layer, fn_name)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PKG) and (
                    getattr(mod, fn_name, None) is orig
                ):
                    self._saved.append((mod, fn_name, orig))
                    setattr(mod, fn_name, wrapper)

    def uninstall(self) -> None:
        for mod, fn_name, orig in reversed(self._saved):
            setattr(mod, fn_name, orig)
        self._saved.clear()

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                out = fn(*args, **kwargs)
            self.returns.setdefault(name, []).append(out)
            return out

        return wrapper

    # -- ledger ---------------------------------------------------------
    def _status(self):
        """(status store, every job it holds, Scala-to-Java converter)."""
        store = self.sc._jsc.sc().statusStore()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        return store, conv.asJava(store.jobsList(None)), conv

    def _jobs(self) -> dict[str, list[dict]]:
        """gid -> [{start, end, tasks, cpu_s, run_s, shw, shr, spill}]
        for every job of this tracer's groups."""
        gids = {sp.gid for sp in self.spans}
        store, jobs, conv = self._status()
        out: dict[str, list[dict]] = {}
        for job in jobs:
            grp = job.jobGroup()
            if not grp.isDefined() or grp.get() not in gids:
                continue
            sub, done = job.submissionTime(), job.completionTime()
            row = {
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else 0.0,
                "end": done.get().getTime() / 1e3 if done.isDefined() else 0.0,
                "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
                "shw": 0.0, "shr": 0.0, "spill": 0.0,
            }
            for sid in conv.asJava(job.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage skipped before it was ever submitted
                    continue
                row["tasks"] += st.numCompleteTasks()
                row["cpu_s"] += st.executorCpuTime() / 1e9
                row["run_s"] += st.executorRunTime() / 1e3
                row["shw"] += st.shuffleWriteBytes() / _MB
                row["shr"] += st.shuffleReadBytes() / _MB
                row["spill"] += st.diskBytesSpilled() / _MB
            out.setdefault(grp.get(), []).append(row)
        return out

    def ungrouped_jobs(self, since: float, until: float) -> int:
        """Jobs submitted in [since, until] outside any span — work the
        ledger cannot attribute to a layer."""
        names = []
        for job in self._status()[1]:
            sub = job.submissionTime()
            t = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
            if since <= t <= until and not job.jobGroup().isDefined():
                names.append(job.name())
        if names:
            print(f"[perfbench] jobs outside any span: {names}", file=sys.stderr)
        return len(names)

    def ledger(self, run_start: float, run_end: float) -> dict[str, float]:
        """``{layer.metric: value}`` for every layer and LAYER_METRICS
        entry, plus ``trace.unattributed_s``: the traced wall not inside
        any top-level span.  Per layer, ``self_s`` is span time minus
        child spans and ``driver_s`` the part of ``self_s`` not covered
        by the layer's own jobs (planning, py4j), so the sum of every
        layer's ``self_s`` plus ``trace.unattributed_s`` is the traced
        wall."""
        jobs = self._jobs()
        agg = {(L, m): 0.0 for L in LAYERS for m, _ in LAYER_METRICS}
        for sp in self.spans:
            own = jobs.get(sp.gid, [])
            self_iv = _intervals_minus(
                (sp.start, sp.end), [(c.start, c.end) for c in sp.children]
            )
            self_s = sum(e - s for s, e in self_iv)
            job_s = _covered(self_iv, [(j["start"], j["end"]) for j in own])
            L = sp.layer
            nested_same = False
            p = sp.parent
            while p is not None:
                nested_same |= p.layer == L
                p = p.parent
            agg[L, "calls"] += 1
            if not nested_same:
                agg[L, "wall_s"] += sp.end - sp.start
            agg[L, "self_s"] += self_s
            agg[L, "driver_s"] += self_s - job_s
            agg[L, "jobs"] += len(own)
            for j in own:
                agg[L, "tasks"] += j["tasks"]
                agg[L, "exec_cpu_s"] += j["cpu_s"]
                agg[L, "exec_run_s"] += j["run_s"]
                agg[L, "shuffle_write_mb"] += j["shw"]
                agg[L, "shuffle_read_mb"] += j["shr"]
                agg[L, "spill_mb"] += j["spill"]
        out = {f"{L}.{m}": v for (L, m), v in agg.items()}
        top = [(sp.start, sp.end) for sp in self.spans if sp.parent is None]
        out["trace.unattributed_s"] = sum(
            e - s for s, e in _intervals_minus((run_start, run_end), top)
        )
        return out
