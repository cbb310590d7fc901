"""Span recorder and per-layer table writer (stdlib only).

A span is one timed call into a ``ds2s`` layer, recorded from the
benchmark's own code: name, start, end, parent span and operation id.
With a Spark context attached, every span runs under its own Spark job
group, so the jobs, stages and tasks it issued are read back from the
status tracker when it closes; CPU is the /proc CPU time of this process
tree (the driver, the local JVM and its Python workers) across the span.

Spans stay in memory; ``write`` dumps them and the per-layer table once,
when the run ends.  A disabled recorder yields from ``span`` without
recording anything, so traced and untraced runs execute the same calls.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

CLOCK_RESOLUTION_NS = max(1, int(time.get_clock_info("perf_counter").resolution * 1e9))
_DONE = ("SUCCEEDED", "FAILED")


def proc_tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system, own and reaped children) of the /proc
    subtree rooted at ``root_pid`` (default: this process)."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        # fields after the ')' closing comm, which may itself hold spaces
        parts = s[s.rindex(")") + 2:].split()
        stats[int(p)] = parts
        kids.setdefault(int(parts[1]), []).append(int(p))
    ticks, stack = 0, [root_pid or os.getpid()]
    while stack:
        pid = stack.pop()
        parts = stats.get(pid)
        if parts is not None:
            ticks += sum(int(x) for x in parts[11:15])
        stack.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this guest's vCPUs since
    boot, summed over vCPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start_ns: int
    end_ns: int = 0
    cpu_s: float = 0.0
    jobs: list[int] = field(default_factory=list)  # issued while innermost
    stages: int = 0
    tasks: int = 0

    @property
    def wall_ns(self) -> int:
        return self.end_ns - self.start_ns


class Recorder:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Count Spark jobs per span from here on."""
        self._sc = sc

    def _ungrouped(self) -> set[int]:
        # jobs from threads the ds2s code starts itself (e.g. the store
        # writer's pool) do not inherit the job group; they belong to the
        # innermost span open when they appear
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record one call; ``op`` defaults to the enclosing span's."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        op = op if op is not None else (parent.op if parent else "")
        sp = Span(len(self.spans), name, op, parent.id if parent else None, 0)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self._sc
        before = self._ungrouped() if sc else set()
        if sc:
            sc.setJobGroup(f"perfbench-{sp.id}", name)
        cpu0 = proc_tree_cpu_s()
        sp.start_ns = time.perf_counter_ns()
        try:
            yield sp
        finally:
            sp.end_ns = time.perf_counter_ns()
            sp.cpu_s = proc_tree_cpu_s() - cpu0
            self._stack.pop()
            if sc:
                if parent:
                    sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
                else:
                    sc.setJobGroup(None, None)
                tracker = sc.statusTracker()
                claimed = {j for s in self.spans[sp.id + 1:] for j in s.jobs}
                jobs = set(tracker.getJobIdsForGroup(f"perfbench-{sp.id}"))
                jobs |= self._ungrouped() - before - claimed
                sp.jobs = sorted(jobs)
                sp.stages, sp.tasks = self._stage_task_counts(tracker, sp.jobs)

    @staticmethod
    def _stage_task_counts(tracker, jobs: list[int]) -> tuple[int, int]:
        """Stages that ran and tasks that completed, once the status store
        has seen every job end (listener events arrive asynchronously)."""
        deadline = time.monotonic() + 10.0
        while True:
            infos = [tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status in _DONE for i in infos) or (
                time.monotonic() > deadline
            ):
                break
            time.sleep(0.005)
        stages = tasks = 0
        for sid in {s for i in infos if i is not None for s in i.stageIds}:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
        return stages, tasks

    # -- derived views ------------------------------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_ns(self, sp: Span) -> int:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted(
            (max(c.start_ns, sp.start_ns), min(c.end_ns, sp.end_ns))
            for c in self.children(sp)
        )
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return sp.wall_ns - covered

    def subtree(self, sp: Span) -> list[Span]:
        out, stack = [], [sp]
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(self.children(s))
        return out

    def totals(self, sp: Span) -> dict:
        """Inclusive job/stage/task counts of a span and its descendants."""
        sub = self.subtree(sp)
        return {
            "jobs": sum(len(s.jobs) for s in sub),
            "stages": sum(s.stages for s in sub),
            "tasks": sum(s.tasks for s in sub),
        }

    def self_time_errors(self) -> list[str]:
        """Per operation root span: the self times of the root and all its
        descendants must add up to the root's wall within the clock's
        resolution per span.  A child that overlaps a sibling or outlives
        its parent breaks the sum.  Spans recorded through ``span`` come
        from one stack in one thread, so they nest and the sum holds by
        construction; the check guards the recorder's bookkeeping, and
        ``self_time_selftest`` shows that it rejects a tree that does not
        nest."""
        errs = []
        for root in (s for s in self.spans if s.parent is None):
            sub = self.subtree(root)
            total = sum(self.self_ns(s) for s in sub)
            if abs(total - root.wall_ns) > CLOCK_RESOLUTION_NS * len(sub):
                errs.append(
                    f"{root.op}/{root.name}: self times {total} ns != wall "
                    f"{root.wall_ns} ns over {len(sub)} spans"
                )
        return errs

    def self_time_selftest(self) -> bool:
        """The self-time check flags an operation whose two child spans
        overlap and passes the same operation once they are disjoint.
        Runs on a scratch recorder, not on this one's spans."""
        res = CLOCK_RESOLUTION_NS
        root = Span(0, "op", "selftest", None, 0, 1000 * res)
        a = Span(1, "a", "selftest", 0, 100 * res, 600 * res)
        b = Span(2, "b", "selftest", 0, 400 * res, 900 * res)  # overlaps a
        scratch = Recorder(enabled=True)
        scratch.spans = [root, a, b]
        flagged = bool(scratch.self_time_errors())
        b.start_ns = a.end_ns
        return flagged and not scratch.self_time_errors()

    def layer_table(self) -> list[dict]:
        """One row per span name: calls, wall, self time, CPU and counts."""
        rows: dict[str, dict] = {}
        for s in self.spans:
            r = rows.setdefault(s.name, {
                "span": s.name, "calls": 0, "wall_s": 0.0, "self_s": 0.0,
                "cpu_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0,
            })
            r["calls"] += 1
            r["wall_s"] += s.wall_ns / 1e9
            r["self_s"] += self.self_ns(s) / 1e9
            r["cpu_s"] += s.cpu_s
            r["jobs"] += len(s.jobs)
            r["stages"] += s.stages
            r["tasks"] += s.tasks
        return sorted(rows.values(), key=lambda r: -r["self_s"])

    def write(self, path: Path, extra: dict | None = None) -> None:
        """Dump spans, the per-layer table (JSON) and a text table beside it."""
        path.parent.mkdir(parents=True, exist_ok=True)
        table = self.layer_table()
        doc = {"spans": [asdict(s) for s in self.spans], "layers": table}
        doc.update(extra or {})
        path.write_text(json.dumps(doc, indent=1))
        path.with_suffix(".txt").write_text(format_table(table))


def format_table(rows: list[dict]) -> str:
    """Fixed-width per-layer table: self time first, then inclusive wall
    (self columns count only time no child span covers; jobs/stages/tasks
    count only work issued while the span was innermost)."""
    head = f"{'span':34} {'calls':>5} {'self_s':>9} {'wall_s':>9} {'cpu_s':>8} {'jobs':>5} {'stages':>6} {'tasks':>6}"
    lines = [head, "-" * len(head)]
    for r in rows:
        lines.append(
            f"{r['span']:34} {r['calls']:5d} {r['self_s']:9.3f} {r['wall_s']:9.3f} "
            f"{r['cpu_s']:8.2f} {r['jobs']:5d} {r['stages']:6d} {r['tasks']:6d}"
        )
    return "\n".join(lines) + "\n"
