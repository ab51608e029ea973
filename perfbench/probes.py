"""What the benchmark reads from Spark's status REST API and from /proc.

The end-to-end CPU figures reuse ``bench.py``'s probes: ``_CpuProbe``
(executor CPU summed over completed stages) and ``_PyCpuProbe``
(Python-worker CPU from the daemon trees in /proc). This module adds the
per-op attribution the traced run needs: an op's jobs are found by the
job tags the benchmark set around it, their stages give the JVM, shuffle
and spill figures, and the SQL executions that ran those jobs give the
Arrow boundary figures from their plan-node metrics."""

from __future__ import annotations

import json
import time
import urllib.request

from measure import parse_ui_metric

#: SQL plan-node metric name -> per-layer metric it adds to.
ARROW_NODE_METRICS = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to start Python workers": "arrow.worker_start_s",
    "time to initialize Python workers": "arrow.worker_init_s",
    "time to run Python workers": "arrow.worker_run_s",
}

#: StageData field -> (per-layer metric, scale to its unit).
STAGE_FIELDS = {
    "executorRunTime": ("jvm.task_run_s", 1e-3),
    "jvmGcTime": ("jvm.gc_s", 1e-3),
    "numCompleteTasks": ("jvm.tasks", 1),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1),
    "shuffleReadBytes": ("shuffle.read_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle.fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spill.memory_bytes", 1),
    "diskBytesSpilled": ("spill.disk_bytes", 1),
}


class ProbeError(RuntimeError):
    """A layer could not be read; the run reports it as null with this reason."""


class SparkRest:
    """Minimal client for Spark's status REST API (the UI must be on)."""

    def __init__(self, spark) -> None:
        self.ui = spark.sparkContext.uiWebUrl
        if not self.ui:
            raise ProbeError("spark.ui.enabled is false: no status REST API")
        apps = self._get("/api/v1/applications")
        self.base = f"/api/v1/applications/{apps[0]['id']}"

    def _get(self, path: str):
        try:
            with urllib.request.urlopen(self.ui + path, timeout=15) as resp:
                return json.load(resp)
        except (OSError, ValueError) as exc:
            raise ProbeError(f"GET {path} failed: {exc}") from exc

    def jobs(self) -> list[dict]:
        return self._get(f"{self.base}/jobs")

    def stages(self) -> list[dict]:
        return self._get(f"{self.base}/stages")

    def sql(self, offset: int = 0) -> list[dict]:
        """SQL executions in id order from position ``offset`` on (none is
        evicted, so positions are stable). The endpoint pages by default."""
        return self._get(f"{self.base}/sql?details=true&planDescription=false"
                         f"&offset={offset}&length=1000000")


def has_tag(job: dict, tag: str) -> bool:
    """SparkSession.addTag(t) reaches the job as ``spark-session-...-t``."""
    return any(t == tag or t.endswith("-" + tag) for t in job.get("jobTags") or ())


class OpAttribution:
    """Per-op JVM, shuffle, spill and Arrow figures from the status API.

    Call :meth:`collect` after each op with the op's tags. The op's jobs
    are those carrying one of its tags, plus jobs no op tag reaches that
    started since the previous op: the runner's pool threads and the
    streaming thread do not inherit the caller's tags, and ops run one at
    a time. Figures are read once the status store shows every such job
    and SQL execution finished (its listener runs asynchronously)."""

    def __init__(self, rest: SparkRest, tag_prefix: str) -> None:
        self.rest = rest
        self.tag_prefix = tag_prefix
        self._seen_jobs: set[int] = {j["jobId"] for j in rest.jobs()}
        self._seen_sql: set[int] = {e["id"] for e in rest.sql()}
        self._sql_floor = len(self._seen_sql)

    def _op_jobs(self, tags: list[str]) -> list[dict]:
        """Unattributed jobs that carry one of ``tags`` or no op tag at all."""
        out = []
        for j in self.rest.jobs():
            if j["jobId"] in self._seen_jobs:
                continue
            op_tagged = any(t.startswith(self.tag_prefix) or ("-" + self.tag_prefix) in t
                            for t in j.get("jobTags") or ())
            if not op_tagged or any(has_tag(j, t) for t in tags):
                out.append(j)
        return out

    def collect(self, tags: list[str], build_tag: str | None,
                timeout_s: float = 10.0) -> dict:
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            jobs = self._op_jobs(tags)
            job_ids = {j["jobId"] for j in jobs}
            roots = {int(t.rsplit("-", 1)[1]) for j in jobs for t in j.get("jobTags") or ()
                     if "-execution-root-id-" in t} - self._seen_sql
            listed = self.rest.sql(self._sql_floor)
            sql = [
                e for e in listed
                if e["id"] not in self._seen_sql
                and (e["id"] in roots or job_ids & set(
                    e.get("successJobIds", []) + e.get("failedJobIds", [])
                    + e.get("runningJobIds", [])))
            ]
            done = (all(j["status"] != "RUNNING" for j in jobs)
                    and roots <= {e["id"] for e in sql}
                    and all(e["status"] != "RUNNING" for e in sql))
            # node metrics are final once two reads agree
            if done and sql == prev:
                break
            if time.monotonic() > deadline:
                raise ProbeError(f"status store still shows running work for {tags}")
            prev = sql if done else None
            time.sleep(0.05)
        self._seen_jobs |= job_ids
        self._seen_sql |= {e["id"] for e in sql}
        # skip the listed prefix that is all attributed (ids survive session
        # restarts in one JVM, so an id is no index)
        for e in listed:
            if e["id"] not in self._seen_sql:
                break
            self._sql_floor += 1
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        out = {name: 0.0 for name, _ in STAGE_FIELDS.values()}
        out.update({name: 0.0 for name in ARROW_NODE_METRICS.values()})
        out["jvm.stages"] = 0
        out["jvm.peak_exec_mem_bytes"] = 0
        out["jvm.cpu_s"] = 0.0
        for st in self.rest.stages():
            if st["stageId"] not in stage_ids or st["status"] != "COMPLETE":
                continue  # skipped stages reuse an earlier stage's shuffle
            out["jvm.stages"] += 1
            out["jvm.cpu_s"] += st["executorCpuTime"] / 1e9
            out["jvm.peak_exec_mem_bytes"] = max(
                out["jvm.peak_exec_mem_bytes"], st["peakExecutionMemory"]
            )
            for fld, (name, scale) in STAGE_FIELDS.items():
                out[name] += st[fld] * scale
        for e in sql:
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    name = ARROW_NODE_METRICS.get(m["name"])
                    if name is not None:
                        out[name] += parse_ui_metric(m["value"])
        out["queries.build_jobs"] = (
            sum(1 for j in jobs if has_tag(j, build_tag)) if build_tag else 0)
        return out
