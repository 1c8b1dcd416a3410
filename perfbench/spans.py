"""Outside-in tracing: spans around the package's public calls, plus the
counters Spark and /proc already keep.

Nothing here edits the package. ``Tracer.install`` rebinds the public
functions, in the modules that look them up, to wrappers that open a span
and tag every Spark job the call starts with the span's job group. After a
pass, ``Tracer.collect`` reads each group's jobs from ``statusTracker`` and
each job's stages from the status store -- COMPLETE stages only, because a
job's ``stageIds`` also lists stages it skipped by reusing a shuffle.
CPU time is the /proc delta of the JVM and its Python workers over a span.
"""

from __future__ import annotations

import dataclasses
import functools
import os
import time
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


# ---------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the given processes, their reaped
    children included."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat, counted from 1
            total += sum(int(x) for x in st[11:15])
    return total / CLK_TCK


def host_steal_s() -> float:
    """CPU seconds, over all cores, that the hypervisor ran something else
    while this machine wanted to run (the steal column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def tree_peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


# ---------------------------------------------------------------- spans


@dataclasses.dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0
    phase: str = "b"  # b = inside the call (build), x = forced execution
    build_s: float = 0.0
    cpu0: float = 0.0
    cpu_s: float = 0.0
    rows_out: int = 0
    bytes_written: int = 0
    files_written: int = 0
    # filled by Tracer.collect from the status store
    jobs: int = 0
    build_jobs: int = 0
    stages: int = 0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Patch(NamedTuple):
    """One binding to wrap: ``module.attr`` becomes a span of ``layer``.

    ``force`` executes the result inside the span: "noop" into the noop
    sink, "cache" the same after caching it (for a result the caller
    caches, so the span materialises that cache itself), None not at all.
    ``out_arg`` is the index of an output-directory argument whose part
    files are counted. ``fields`` picks which fields of a dataclass result
    are forced."""

    module: object
    attr: str
    layer: str
    force: str | None = None
    out_arg: int | None = None
    fields: tuple[str, ...] | None = None


def _frames(result, fields: tuple[str, ...] | None = None) -> list[DataFrame]:
    """The DataFrames a public call returned: one, or a tuple of them, or
    the ``fields`` (default: all) of a dataclass of them."""
    if isinstance(result, DataFrame):
        return [result]
    if dataclasses.is_dataclass(result):
        names = fields or [f.name for f in dataclasses.fields(result)]
        result = tuple(getattr(result, n) for n in names)
    if isinstance(result, tuple):
        return [r for r in result if isinstance(r, DataFrame)]
    return []


def _dir_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return size, n


class Tracer:
    """Records spans in memory; ``spans`` is written out by the caller."""

    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.pass_id = 0

    def _group(self, span: Span, phase: str) -> None:
        span.phase = phase
        self.sc.setJobGroup(f"span{span.sid}{phase}", span.name, False)

    def _cpu(self) -> float:
        return tree_cpu_s(process_tree(self.jvm_pid))

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent.sid if parent else None, self.pass_id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s, "b")
        s.cpu0 = self._cpu()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu_s = self._cpu() - s.cpu0
            self._stack.pop()
            if parent is not None:
                self._group(parent, parent.phase)
            else:
                self.sc._jsc.clearJobGroup()

    def force(self, span: Span, result, patch: Patch) -> None:
        """Execute what a layer returned with its own noop write, so the
        layer's time is separated from its consumers'; rows are counted by
        an observed metric in the same execution. See ``Patch`` for the
        ways to force."""
        self._group(span, "x")
        for df in _frames(result, patch.fields):
            if patch.force == "cache":
                df.cache()
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
            span.rows_out += int(obs.get["n"])

    def wrap(self, fn, patch: Patch):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(fn.__name__, patch.layer) as s:
                t0 = time.perf_counter()
                result = fn(*args, **kwargs)
                s.build_s = time.perf_counter() - t0
                if patch.force:
                    tracer.force(s, result, patch)
                if patch.out_arg is not None:
                    s.bytes_written, s.files_written = _dir_stats(args[patch.out_arg])
                return result

        return traced

    def install(self, patches: list[Patch]) -> None:
        """The same function bound in several modules gets one wrapper
        each."""
        for patch in patches:
            fn = getattr(patch.module, patch.attr)
            self._patched.append((patch.module, patch.attr, fn))
            setattr(patch.module, patch.attr, self.wrap(fn, patch))

    def uninstall(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def collect(self, spans: list[Span]) -> None:
        """Fill each span's job and stage counters (exclusive: only jobs
        run under the span's own groups)."""
        for s in spans:
            for phase in ("b", "x"):
                c = group_counters(self.sc, f"span{s.sid}{phase}")
                s.jobs += c["jobs"]
                s.build_jobs += c["jobs"] if phase == "b" else 0
                s.stages += c["stages"]
                s.shuffle_write_mb += c["shuffle_write_mb"]
                s.spill_mb += c["spill_mb"]


def group_counters(sc, group: str) -> dict[str, float]:
    """Jobs, COMPLETE stages, shuffle writes and spills of one job group,
    from ``statusTracker`` and the status store. Read them soon after the
    jobs end: the store keeps only the most recent jobs and stages."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker = jsc.statusStore(), sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never attempted
                continue
            if stage.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["shuffle_write_mb"] += stage.shuffleWriteBytes() / MB
            out["spill_mb"] += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / MB
    return out


def layer_metrics(spans: list[Span], cores: int) -> dict[str, dict[str, float]]:
    """Per-pass sums by layer. Wall, CPU and the status-store counters are
    inclusive of child spans; ``self_s`` is the wall time no child span
    covers. (No layer's function calls another function of its own layer,
    so a layer is never counted twice.)"""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def subtree(s: Span):
        yield s
        for k in kids.get(s.sid, ()):
            yield from subtree(k)

    out: dict[str, dict[str, float]] = {}
    for s in spans:
        m = out.setdefault(s.layer, dict.fromkeys(
            ("wall_s", "self_s", "build_s", "cpu_s", "jobs", "build_jobs", "stages",
             "shuffle_write_mb", "spill_mb", "rows_out", "bytes_written", "files_written"), 0.0))
        m["wall_s"] += s.wall_s
        m["self_s"] += s.wall_s - sum(k.wall_s for k in kids.get(s.sid, ()))
        m["build_s"] += s.build_s
        m["cpu_s"] += s.cpu_s
        m["rows_out"] += s.rows_out
        m["bytes_written"] += s.bytes_written
        m["files_written"] += s.files_written
        for x in subtree(s):
            m["jobs"] += x.jobs
            m["build_jobs"] += x.build_jobs
            m["stages"] += x.stages
            m["shuffle_write_mb"] += x.shuffle_write_mb
            m["spill_mb"] += x.spill_mb
    for m in out.values():
        m["util"] = m["cpu_s"] / (m["wall_s"] * cores) if m["wall_s"] > 0 else 0.0
    return out
