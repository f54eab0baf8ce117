"""Every Spark job of one traced perfbench repetition, one line each.

Usage: python tools/job_list.py <workload> [seed]

Runs the perfbench workload (``transcripts``, ``leiden_bsp`` or
``refresh``) the way ``perfbench/run.py --trace 1`` does — set-up, one
untimed warm-up repetition, then ONE traced repetition — and prints, for
each job of that repetition in job-id order: its layer path (the span
chain from the repetition's root), its completed stages, their tasks,
the job's wall in ms and its call site. The layer table of
``perfbench/run.py`` says how many jobs a layer ran; this says which.
``perfbench/`` is imported, not changed.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [PERFBENCH, ROOT]

import run as perfbench_run  # noqa: E402
import tracing  # noqa: E402


def span_path(sp: tracing.Span) -> str:
    names = []
    while sp is not None:
        names.append(sp.name)
        sp = sp.parent
    return "/".join(reversed(names))


def job_rows(tracer: tracing.Tracer) -> list[dict]:
    """One dict per job of the tracer's spans, in job-id order. Stages
    count once, COMPLETE or FAILED only (skipped stages re-use a
    shuffle another job wrote), as ``Tracer.harvest`` counts them."""
    st = tracer.sc.statusTracker()
    store = tracer.sc._jsc.sc().statusStore()
    owner = {}
    for sp in tracer.spans:
        for j in st.getJobIdsForGroup(sp.group):
            owner[j] = sp
    rows, seen = [], set()
    for j in sorted(owner):
        job = store.job(j)
        stages = tasks = 0
        for sid in sorted(st.getJobInfo(j).stageIds):
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() in ("COMPLETE", "FAILED"):
                stages += 1
                tasks += sd.numTasks()
        sub, done = job.submissionTime(), job.completionTime()
        wall_ms = (
            done.get().getTime() - sub.get().getTime()
            if sub.isDefined() and done.isDefined() else -1
        )
        rows.append(dict(
            job=j, layer=span_path(owner[j]), stages=stages, tasks=tasks,
            wall_ms=wall_ms, callsite=job.name(),
        ))
    return rows


def main() -> None:
    workload = sys.argv[1]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"joblist-{os.getpid()}")
    cache = os.path.join(base, "cache")
    cores = min(4, len(os.sched_getaffinity(0)))
    conf = perfbench_run.prepare_env(work, cache, cores)
    conf.update({"spark.ui.retainedJobs": "100000",
                 "spark.ui.retainedStages": "100000"})
    rss = perfbench_run.TreeRss().start()
    spark = None
    try:
        from graft.session import get_spark

        import workloads

        spark = get_spark("job-list", master=f"local[{cores}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        wl = workloads.WORKLOADS[workload](spark, seed, cache, work)
        wl.setup()
        wl.after(wl.run(tracing.NullTracer()))
        tracer = tracing.Tracer(spark)
        tracer.install()
        try:
            with tracer.span("run"):
                wl.after(wl.run(tracer))
        finally:
            tracer.uninstall()
        rows = job_rows(tracer)
        print(f"{'job':>5} {'stages':>6} {'tasks':>6} {'wall_ms':>8}  "
              f"{'layer':<48} callsite")
        for r in rows:
            print(f"{r['job']:>5} {r['stages']:>6} {r['tasks']:>6} "
                  f"{r['wall_ms']:>8}  {r['layer']:<48} {r['callsite']}")
        print(f"jobs={len(rows)} tasks={sum(r['tasks'] for r in rows)} "
              f"job_wall_ms={sum(r['wall_ms'] for r in rows)} "
              f"repetition_s={tracer.spans[0].dur:.3f}")
    finally:
        rss.stop()
        if spark is not None:
            perfbench_run.stop_spark(spark, rss)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
