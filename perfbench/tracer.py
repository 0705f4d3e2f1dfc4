"""Per-layer readings for a traced pass, taken from outside the engine.

Sources:

- Spark's ``AppStatusStore`` (jobs and stages) and ``SQLAppStatusStore``
  (per-operator SQL metrics), both readable with the UI off. The
  session keeps only 50 jobs, 100 stages and 10 SQL executions, so a
  poller thread copies every finished item while a key runs instead of
  reading once at the end. Job and execution ids are sequential, so
  ids that were evicted before any poll saw them show as gaps and are
  counted in ``trace.jobs_lost`` and ``trace.execs_lost``; stages
  evicted before they were read count in ``trace.stages_lost``.
- A ``StreamingQueryListener`` registered here, for per-trigger
  progress of the streaming keys. Its events arrive asynchronously and
  are drained (every query started during the key has terminated)
  before they are attributed.

Jobs are attributed to a key by job group: ``<workload>:<key>:builder``
and ``<workload>:<key>:exec`` are set around the builder call and the
execution, and micro-batch jobs carry their query's run id, which the
listener saw start during the key. Micro-batches run inside the
builder, so they count as builder jobs.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_MB = 1024 * 1024
_SIZE = {"B": 1, "KiB": 1024, "MiB": _MB, "GiB": 1024 * _MB, "TiB": 1024 * 1024 * _MB}
_TIME_S = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")

SCAN_METRICS = {
    "number of files read": "scan.files",
    "size of files read": "scan.mb",
    "number of output rows": "scan.rows",
    "scan time": "scan.time_s",
}
PYTHON_METRICS = {
    "time to start Python workers": "py.start_s",
    "time to initialize Python workers": "py.init_s",
    "time to run Python workers": "py.run_s",
    "data sent to Python workers": "py.sent_mb",
    "data returned from Python workers": "py.recv_mb",
}
STAGE_METRICS = (
    "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
)
LOST = ("trace.jobs_lost", "trace.execs_lost", "trace.stages_lost")
STREAM_SUMS = (
    "stream.queries", "stream.batches", "stream.add_batch_ms",
    "stream.planning_ms", "stream.commit_ms", "stream.state_rows",
    "stream.state_mem_mb", "stream.rows_dropped_by_watermark",
)
_TERMINAL_JOB = {"SUCCEEDED", "FAILED"}


def parse_metric(text: str) -> float:
    """Turn a formatted SQL metric (``'1,234'``, ``'2.6 s'``, ``'62.6 KiB'``
    or the ``'total (min, med, max ...)\\n<total> (...)'`` form) into a
    number in base units: seconds, bytes or a count."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_S:
        return value * _TIME_S[unit]
    if unit:
        raise ValueError(f"unknown unit in SQL metric {text!r}")
    return value


class _Listener(StreamingQueryListener):
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: set[str] = set()
        self.run_ids: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.add(str(event.id))
            self.run_ids.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        with self.lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.id))

    def take(self, timeout_s: float) -> tuple[set[str], list[dict]]:
        """Wait until every started query has terminated, then hand over
        and reset what was recorded since the last call."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self.lock:
                if self.started <= self.terminated or time.monotonic() > deadline:
                    run_ids, progress = self.run_ids, self.progress
                    self.started, self.run_ids = set(), set()
                    self.terminated, self.progress = set(), []
                    return run_ids, progress
            time.sleep(0.02)


class Tracer:
    """Tags, polls and attributes the Spark work of one key at a time."""

    POLL_S = 0.2

    def __init__(self, spark, workload: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        # per key; ``_seen_*`` stop re-reading items of earlier keys that
        # the store still retains
        self._jobs: dict[int, tuple[str, list[int]]] = {}
        self._stages: dict[int, dict | None] = {}
        self._execs: dict[int, tuple[list[int], dict[str, float]]] = {}
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()
        # every job / execution id a poll has listed since the last key
        # ended, and the highest id listed before that, for gap counts
        self._listed = {"trace.jobs_lost": set(), "trace.execs_lost": set()}
        self._base = {
            "trace.jobs_lost": max(self._job_ids(), default=-1),
            "trace.execs_lost": max(self._exec_ids(), default=-1),
        }
        self._stop = threading.Event()
        self._poller: threading.Thread | None = None

    def close(self) -> None:
        if self._poller is not None:  # a key raised before finish_key
            self._stop.set()
            self._poller.join()
            self._poller = None
        self.spark.streams.removeListener(self._listener)

    # -- per key ---------------------------------------------------------

    def group(self, key: str, phase: str) -> str:
        return f"{self.workload}:{key}:{phase}"

    def set_phase(self, key: str, phase: str) -> None:
        """Tag the jobs that follow; the first call of a key starts polling."""
        self.sc.setJobGroup(self.group(key, phase), key)
        if self._poller is None:
            self._stop.clear()
            self._poller = threading.Thread(target=self._poll_loop, daemon=True)
            self._poller.start()

    def finish_key(self, key: str, builder_s: float, exec_s: float) -> dict:
        """Stop polling, drain, and return this key's layer readings."""
        self._stop.set()
        self._poller.join()
        self._poller = None
        run_ids, progress = self._listener.take(timeout_s=10.0)
        groups = {self.group(key, "builder"): "builder", self.group(key, "exec"): "exec"}
        groups.update({rid: "builder" for rid in run_ids})
        self._poll(groups, settle_s=5.0)
        self.sc.setJobGroup(f"{self.workload}:harness", "harness")
        out = self._attribute(groups, progress, builder_s, exec_s)
        self._jobs.clear()
        self._stages.clear()
        self._execs.clear()
        return out

    # -- status store ------------------------------------------------------

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def _poll_loop(self) -> None:
        while not self._stop.wait(self.POLL_S):
            self._poll(None, settle_s=0.0)

    def _poll(self, groups: dict[str, str] | None, settle_s: float) -> None:
        """Copy finished jobs, their stages and finished SQL executions.

        With ``groups`` given, wait up to ``settle_s`` for every job of
        those groups to reach a terminal state (the status store is
        updated asynchronously)."""
        deadline = time.monotonic() + settle_s
        while True:
            pending = False
            jobs = self._list(self._store.jobsList(None))
            self._listed["trace.jobs_lost"].update(int(j.jobId()) for j in jobs)
            for job in jobs:
                jid = int(job.jobId())
                if jid in self._seen_jobs:
                    continue
                g = job.jobGroup()
                group = str(g.get()) if g.isDefined() else ""
                if job.status().toString() not in _TERMINAL_JOB:
                    pending = pending or groups is None or group in groups
                    continue
                stage_ids = [int(s) for s in self._list(job.stageIds())]
                self._seen_jobs.add(jid)
                self._jobs[jid] = (group, stage_ids)
                for sid in stage_ids:
                    if sid not in self._stages:
                        self._stages[sid] = self._stage(sid)
            execs = self._list(self._sql.executionsList())
            self._listed["trace.execs_lost"].update(int(e.executionId()) for e in execs)
            for ex in execs:
                eid = int(ex.executionId())
                if eid in self._seen_execs:
                    continue
                if not ex.completionTime().isDefined():
                    pending = True
                    continue
                job_ids = [int(j) for j in self._conv.asJava(ex.jobs()).keySet()]
                self._seen_execs.add(eid)
                self._execs[eid] = (job_ids, self._exec_metrics(eid))
            if groups is None or not pending or time.monotonic() > deadline:
                return
            time.sleep(0.05)

    def _job_ids(self) -> list[int]:
        return [int(j.jobId()) for j in self._list(self._store.jobsList(None))]

    def _exec_ids(self) -> list[int]:
        return [int(e.executionId()) for e in self._list(self._sql.executionsList())]

    def _take_lost(self, counter: str) -> int:
        """Ids are sequential: one above the last key's highest and below
        this key's highest that no poll listed was evicted unread."""
        listed = {i for i in self._listed[counter] if i > self._base[counter]}
        self._listed[counter] = set()
        if not listed:
            return 0
        lost = max(listed) - self._base[counter] - len(listed)
        self._base[counter] = max(listed)
        return lost

    def _stage(self, sid: int) -> dict | None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # evicted before it was read: counted as lost
            return None
        if st.status().toString() == "SKIPPED":
            return {}
        return {
            "exec.stages": 1,
            "exec.tasks": st.numCompleteTasks(),
            "exec.run_s": st.executorRunTime() / 1e3,
            "exec.cpu_s": st.executorCpuTime() / 1e9,
            "exec.gc_s": st.jvmGcTime() / 1e3,
            "exec.shuffle_read_mb": st.shuffleReadBytes() / _MB,
            "exec.shuffle_write_mb": st.shuffleWriteBytes() / _MB,
            "exec.spill_mb": st.diskBytesSpilled() / _MB,
        }

    def _exec_metrics(self, eid: int) -> dict[str, float]:
        values = self._conv.asJava(self._sql.executionMetrics(eid))
        out: dict[str, float] = {}
        for node in self._list(self._sql.planGraph(eid).allNodes()):
            is_scan = str(node.name()).startswith("Scan ")
            for m in self._list(node.metrics()):
                name = str(m.name())
                if name in PYTHON_METRICS:
                    layer = PYTHON_METRICS[name]
                elif is_scan and name in SCAN_METRICS:
                    layer = SCAN_METRICS[name]
                else:
                    continue
                text = values.get(m.accumulatorId())
                if text is None:
                    continue
                v = parse_metric(str(text))
                if layer.endswith("mb"):
                    v /= _MB
                out[layer] = out.get(layer, 0.0) + v
        return out

    # -- attribution -------------------------------------------------------

    def _attribute(self, groups, progress, builder_s, exec_s) -> dict:
        out = dict.fromkeys(
            ("builder.jobs", "exec.jobs", *LOST, *STAGE_METRICS,
             *SCAN_METRICS.values(), *PYTHON_METRICS.values(), *STREAM_SUMS),
            0.0,
        )
        key_jobs = set()
        exec_stages: set[int] = set()
        for jid, (group, stage_ids) in self._jobs.items():
            phase = groups.get(group)
            if phase is None:
                continue
            key_jobs.add(jid)
            out[f"{phase}.jobs"] += 1
            if phase == "exec":
                exec_stages.update(stage_ids)
        for sid in exec_stages:
            st = self._stages.get(sid)
            if st is None:
                out["trace.stages_lost"] += 1
                continue
            for name, v in st.items():
                out[name] += v
        for job_ids, metrics in self._execs.values():
            if key_jobs.intersection(job_ids):
                for name, v in metrics.items():
                    out[name] += v
        for name in self._listed:
            out[name] = float(self._take_lost(name))
        out.update(self._stream(progress, builder_s))
        out["builder_s"] = builder_s
        out["exec_s"] = exec_s
        return out

    @staticmethod
    def _stream(progress: list[dict], builder_s: float) -> dict:
        out = dict.fromkeys(STREAM_SUMS, 0.0)
        out["stream.trigger_ms"] = []
        out["stream.lifecycle_s"] = 0.0
        if not progress:
            return out
        last: dict[str, dict] = {}
        for p in progress:
            d = p.get("durationMs", {})
            out["stream.trigger_ms"].append(d.get("triggerExecution", 0))
            out["stream.add_batch_ms"] += d.get("addBatch", 0)
            out["stream.planning_ms"] += d.get("queryPlanning", 0)
            out["stream.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            for so in p.get("stateOperators", []):
                out["stream.rows_dropped_by_watermark"] += so.get("numRowsDroppedByWatermark", 0)
            last[p["id"]] = p
        out["stream.queries"] = float(len(last))
        out["stream.batches"] = float(len(progress))
        for p in last.values():
            for so in p.get("stateOperators", []):
                out["stream.state_rows"] += so.get("numRowsTotal", 0)
                out["stream.state_mem_mb"] += so.get("memoryUsedBytes", 0) / _MB
        out["stream.lifecycle_s"] = builder_s - sum(out["stream.trigger_ms"]) / 1e3
        return out


def summarize_pass(per_key: dict[str, dict], cores: int) -> dict[str, float]:
    """Sum one traced pass's key readings into the per-layer metrics;
    ``pass_s`` is the sum of the key walls."""
    keys = list(per_key.values())
    if not keys:
        raise ValueError("no key of the traced pass succeeded")
    total = {
        name: sum(k[name] for k in keys)
        for name in keys[0]
        if name != "stream.trigger_ms"
    }
    triggers = [t for k in keys for t in k["stream.trigger_ms"]]
    total["stream.trigger_ms.p50"] = statistics.median(triggers) if triggers else 0.0
    total["pass_s"] = total["builder_s"] + total["exec_s"]
    total["builder.share"] = total["builder_s"] / total["pass_s"]
    total["exec.core_util"] = (
        total["exec.run_s"] / (total["exec_s"] * cores) if total["exec_s"] else 0.0
    )
    return total
