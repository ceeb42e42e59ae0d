"""Stage records from Spark's public status store.

Time is attributed by stage ``executorRunTime`` (ROADMAP direction 1):
operator metrics summed over plan graphs over-count, stage sums stay
under cores × wall. ``outside_stage_s`` is wall time minus the union of
stage intervals: driver planning, scheduling and Python-side work.
"""

from __future__ import annotations

from .trace import union_length


def _opt(option):
    return option.get() if option.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class StageReader:
    """Reads jobs and stages of finished work from the status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_description(self, job_id: int) -> str:
        return _opt(self.store.job(job_id).description()) or ""

    def stages(self, job_ids) -> list[dict]:
        """Stages that ran for ``job_ids`` (skipped stages are left out)."""
        seen = set()
        out = []
        for jid in job_ids:
            for sid in _seq(self.store.job(jid).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.store.lastStageAttempt(sid)
                sub, done = _opt(st.submissionTime()), _opt(st.completionTime())
                if sub is None or done is None or str(st.status()) != "COMPLETE":
                    continue
                out.append(
                    {
                        "stage": sid,
                        "job": jid,
                        "start": sub.getTime() / 1000.0,
                        "end": done.getTime() / 1000.0,
                        "run_s": st.executorRunTime() / 1000.0,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "tasks": st.numTasks(),
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                    }
                )
        return out


def attribute(stages: list[dict], start: float, end: float, jobs: int) -> dict:
    """Summarise the stages of one call that ran over ``[start, end]``."""
    wall = end - start
    covered = union_length([(s["start"], s["end"]) for s in stages], start, end)
    return {
        "wall_s": wall,
        "exec_run_s": sum(s["run_s"] for s in stages),
        "exec_cpu_s": sum(s["cpu_s"] for s in stages),
        "tasks": sum(s["tasks"] for s in stages),
        "jobs": jobs,
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "outside_stage_s": max(0.0, wall - covered),
    }


def add_stage_spans(tracer, stages: list[dict], parent: str, trace: str) -> None:
    for s in stages:
        tracer.add(
            "spark.stage",
            s["start"],
            s["end"],
            parent=parent,
            trace=trace,
            stage=s["stage"],
            job=s["job"],
            run_s=s["run_s"],
            tasks=s["tasks"],
        )
