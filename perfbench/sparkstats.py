"""Spark engine metrics for one pass, read from the driver's status store.

The benchmark tags each traced pass with a job group, then asks the
status tracker for the group's jobs and stages and the status store
(``sc._jsc.sc().statusStore()``, live with the UI off) for each stage's
times and task metrics. Nothing is added inside the engine.
"""

from __future__ import annotations

from typing import Dict, List

from perfbench.spans import Tracer, union_length


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def group_stages(sc, group: str) -> List[dict]:
    """Completed stages of every job in ``group``, with their metrics.
    Skipped stages (their output was reused) have no times and are left
    out."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stage_ids = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    stages = []
    for sid in sorted(stage_ids):
        st = store.lastStageAttempt(sid)
        start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
        if start is None or end is None:
            continue
        run_med = run_max = peak = 0.0
        summary = store.taskSummary(sid, st.attemptId(), quantiles)
        if summary.isDefined():
            dist = summary.get()
            run_med = dist.executorRunTime().apply(0) / 1000.0
            run_max = dist.executorRunTime().apply(1) / 1000.0
            peak = dist.peakExecutionMemory().apply(1)
        stages.append({
            "id": sid,
            "start": start,
            "end": end,
            "tasks": st.numCompleteTasks(),
            "run_s": st.executorRunTime() / 1000.0,
            "cpu_s": st.executorCpuTime() / 1e9,
            "shuffle_bytes": st.shuffleReadBytes() + st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "task_run_median_s": run_med,
            "task_run_max_s": run_max,
            "task_peak_exec_mem": peak,
        })
    return stages


def record_pass(tracer: Tracer, sc, group: str, name: str, start: float,
                end: float, pass_id: int) -> Dict[str, float]:
    """Add a pass span with one child span per stage; return the pass's
    ``spark.*`` metrics."""
    stages = group_stages(sc, group)
    root = tracer.add(name, start, end, None, pass_id)
    for st in stages:
        tracer.add("spark.stage", st["start"], st["end"], root, pass_id)
    wall = end - start
    busy = union_length([(s["start"], s["end"]) for s in stages], start, end)
    # skew of the stage that dominates the pass: its slowest task over its
    # median task (1.0 is perfectly even)
    top = max(stages, key=lambda s: s["run_s"], default=None)
    skew = (top["task_run_max_s"] / top["task_run_median_s"]
            if top and top["task_run_median_s"] > 0 else 1.0)
    return {
        "spark.jobs": float(len(sc.statusTracker().getJobIdsForGroup(group))),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s["tasks"] for s in stages)),
        "spark.driver_gap_s": wall - busy,
        "spark.stage_busy_s": busy,
        "spark.stage_run_s": sum(s["run_s"] for s in stages),
        "spark.stage_cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.shuffle_bytes": float(sum(s["shuffle_bytes"] for s in stages)),
        "spark.spill_bytes": float(sum(s["spill_bytes"] for s in stages)),
        "spark.task_skew": skew,
        "spark.peak_exec_mem_mb": max(
            (s["task_peak_exec_mem"] for s in stages), default=0.0) / 2**20,
    }
