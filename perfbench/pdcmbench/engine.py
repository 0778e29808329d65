"""Engine counters read from outside the program: the status tracker for
jobs, stages and tasks, the JVM's GC MXBeans for collection time, and
/proc for the driver JVM's peak resident set."""

from __future__ import annotations

import gc
import time


class Engine:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        # the Java tracker's stage info also carries the submission time
        self._jtracker = self.sc._jsc.statusTracker()
        self._jvm = self.sc._jvm
        self.pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    # ---- JVM ----
    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM (the whole local-mode cluster)."""
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM for pid {self.pid}")

    # ---- block store ----
    def persistent_rdd_ids(self) -> set[int]:
        ids: set[int] = set()
        it = self.sc._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            ids.add(it.next()._1())
        return ids

    def release_blocks(self) -> None:
        """Untimed between iterations (bench.py's release_blocks): drop
        every persisted/checkpointed RDD, then force a driver-JVM GC so
        the ContextCleaner reclaims broadcast and block-store state
        before the next measurement."""
        gc.collect()
        it = self.sc._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            it.next()._2().unpersist(False)
        self._jvm.System.gc()
        self.spark.range(10).count()
        time.sleep(0.2)

    # ---- jobs ----
    def set_job_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_job_group(self) -> None:
        self.sc._jsc.clearJobGroup()

    def jobs_in_group(self, group: str | None) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def job_start_time(self, job_id: int) -> float | None:
        """Seconds since the epoch when the job's first stage was
        submitted (None for a job whose stages were all skipped)."""
        info = self.tracker.getJobInfo(job_id)
        if info is None:
            return None
        times = []
        for sid in info.stageIds:
            st = self._jtracker.getStageInfo(sid)
            if st is not None and st.submissionTime() > 0:
                times.append(st.submissionTime() / 1000.0)
        return min(times) if times else None

    def job_counts(self, job_ids) -> dict[str, int]:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue  # skipped: its output came from a prior job
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks
                out["failed_tasks"] += st.numFailedTasks
        return out
