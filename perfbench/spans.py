"""Out-of-process view of what one call did inside Spark.

Each call the benchmark makes into the package runs under its own Spark
job group. Afterwards the tracer reads that group's jobs, stages and SQL
executions from the driver's REST API (``/api/v1/applications/<id>/...``)
and keeps a span in memory: wall time, stage metrics summed over the
group, and per-plan-node metrics of its SQL executions. Spans are
written out once, at the end of the run.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

_STAGE_SUMS = {
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "output_bytes": "outputBytes",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
}
_NUM = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def metric_total(value: str) -> float:
    """Total of one SQL-metric string: bytes in B, times in ms, counts
    as numbers (``"total (min, med, max ...)\\n1.2 MiB (...)"``)."""
    text = value.strip()
    if text.startswith("total"):
        text = text.split("\n", 1)[1].strip() if "\n" in text else ""
    m = _NUM.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


@dataclass
class Span:
    name: str
    kind: str
    start: float
    end: float
    group: str
    jobs: int = 0
    stages: dict = field(default_factory=dict)
    # (execution id, submit offset s, duration s, [(node name, {metric: total})])
    executions: list = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def node_metric(self, node_prefix: str, metric: str) -> float:
        return sum(
            m.get(metric, 0.0)
            for _eid, _off, _dur, nodes in self.executions
            for name, m in nodes
            if name.startswith(node_prefix)
        )

    def execution_s(self) -> float:
        """Wall covered by the span's SQL executions (their union)."""
        ivs = sorted((off, off + dur) for _e, off, dur, _n in self.executions)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return covered


class Tracer:
    """Job-group spans over the driver's REST API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.spans: list[Span] = []
        self._n = 0

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def run(self, name: str, kind: str, fn):
        """Run ``fn()`` under a fresh job group; record its span."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        wall0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.perf_counter()
            self.sc.setJobGroup("perfbench-idle", "idle")
        span = Span(name, kind, t0, t1, group)
        self._collect(span, wall0)
        span.attrs["persisted_bytes"], span.attrs["persisted_rdds"] = self.storage()
        self.spans.append(span)
        return out, span

    def _collect(self, span: Span, wall0: float) -> None:
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(span.group))
        span.jobs = len(job_ids)
        jobs = []
        for _ in range(200):  # the REST store trails the listener bus
            jobs = [j for j in self._get("jobs") if j["jobId"] in job_ids]
            if len(jobs) == len(job_ids) and all(
                j["status"] != "RUNNING" for j in jobs
            ):
                break
            time.sleep(0.05)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        sums = dict.fromkeys(_STAGE_SUMS, 0)
        for st in self._get("stages?status=complete"):
            if st["stageId"] in stage_ids:
                for k, src in _STAGE_SUMS.items():
                    sums[k] += st.get(src, 0)
        span.stages = sums
        for ex in self._get("sql?details=true&planDescription=false&length=100000"):
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ex_jobs & job_ids:
                continue
            nodes = [
                (n["nodeName"], {m["name"]: metric_total(m["value"]) for m in n["metrics"]})
                for n in ex["nodes"]
            ]
            submitted = _rest_time(ex["submissionTime"]) - wall0
            span.executions.append((ex["id"], submitted, ex["duration"] / 1e3, nodes))

    def storage(self) -> tuple[int, int]:
        """(persisted bytes in memory and on disk, persisted RDD count)."""
        rdds = self._get("storage/rdd")
        return sum(r["memoryUsed"] + r["diskUsed"] for r in rdds), len(rdds)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "kind": s.kind, "group": s.group,
                    "wall_s": s.wall_s, "jobs": s.jobs,
                    "stages": s.stages, "attrs": s.attrs,
                    "executions": [
                        {"id": e, "offset_s": o, "duration_s": d,
                         "nodes": [{"name": n, "metrics": m} for n, m in nodes]}
                        for e, o, d, nodes in s.executions
                    ],
                }) + "\n")


def _rest_time(stamp: str) -> float:
    """'2026-10-17T03:49:35.686GMT' -> epoch seconds."""
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()
