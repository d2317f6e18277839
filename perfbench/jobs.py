"""Spark job accounting by job group, read from the driver's status store.

Jobs are attributed by job group, never by call site: AQE submits query
stages from its own threads (their call site is a JDK frame), but those
threads inherit the submitting thread's job group. A group is read right
after its op, once the listener bus has drained, because the store forgets
jobs beyond ``spark.ui.retainedJobs``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

STAGE_FIELDS = ("exec_run_ms", "exec_cpu_ms", "shuffle_write_bytes",
                "output_bytes", "sched_delay_ms")


@dataclass
class GroupStats:
    jobs: int = 0
    exec_run_ms: float = 0.0
    exec_cpu_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    output_bytes: float = 0.0
    sched_delay_ms: float = 0.0
    # (submission_ms, completion_ms) of every job, for the op's job wall
    intervals: list = field(default_factory=list)


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class JobReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self.sc.statusTracker()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def group_stats(self, group: str, seen_stages: set[int]) -> GroupStats:
        """Totals over the group's jobs. A stage counted once per op
        (``seen_stages``): a reused exchange lists its stage in two jobs."""
        out = GroupStats()
        for jid in self.job_ids(group):
            job = self._store.job(jid)
            out.jobs += 1
            sub, done = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if sub is not None and done is not None:
                out.intervals.append((sub, done))
            ids = job.stageIds().mkString(",")
            for sid in (int(s) for s in ids.split(",") if s):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue   # skipped stage: its work ran elsewhere
                out.exec_run_ms += st.executorRunTime()
                out.exec_cpu_ms += st.executorCpuTime() / 1e6
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.output_bytes += st.outputBytes()
                s0 = _opt_ms(st.submissionTime())
                s1 = _opt_ms(st.firstTaskLaunchedTime())
                if s0 is not None and s1 is not None:
                    out.sched_delay_ms += max(0, s1 - s0)
        return out


def covered_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
