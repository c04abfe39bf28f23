"""Per-query time attribution: planning vs execution vs task-time.

For each named query: 2 warmups, then a timed rep split into
  build_s  — registry fn call (DataFrame construction, driver Python)
  plan_s   — force executedPlan (analysis/optimization/physical planning)
  exec_s   — noop materialization wall time
and, from the status tracker, the jobs/stages/tasks the rep ran with
summed task time — exec_s >> task_s / n, with n the session's cores
(local[n]), means scheduling/stragglers, not work.
Usage: python tools/profile_query.py <sf_dir> <query> [...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.getcwd())

from tracy_matdb_spark.queries import load_all  # noqa: E402
from tracy_matdb_spark.session import get_session  # noqa: E402


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_session("profile")
    sc = spark.sparkContext
    reg = load_all()
    for name in names:
        q = reg[name]
        for _ in range(2):
            materialize(q.fn(spark, sf_dir))
        st = sc.statusTracker()
        before_jobs = set(st.getJobIdsForGroup(None) or [])
        t0 = time.time()
        df = q.fn(spark, sf_dir)
        t1 = time.time()
        df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        materialize(df)
        t3 = time.time()
        jobs = [j for j in (st.getJobIdsForGroup(None) or []) if j not in before_jobs]
        n_stages = 0
        n_tasks = 0
        for j in jobs:
            ji = st.getJobInfo(j)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = st.getStageInfo(sid)
                # count only stages that finished (mid-flight stages
                # under-report numCompletedTasks and skew attribution)
                if (
                    si is not None
                    and si.numTasks > 0
                    and si.numActiveTasks == 0
                    and si.numCompletedTasks == si.numTasks
                ):
                    n_stages += 1
                    n_tasks += si.numCompletedTasks
        print(
            f"{name:34s} build={t1-t0:6.3f} plan={t2-t1:6.3f} exec={t3-t2:6.3f} "
            f"total={t3-t0:6.3f} jobs={len(jobs):3d} stages={n_stages:3d} tasks={n_tasks:4d}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
