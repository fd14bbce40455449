"""Reads Spark's status stores after each action.

The SQL status store (``sharedState().statusStore()``) and the core
``AppStatusStore`` are filled by listeners whether or not the web UI runs,
so this works with ``spark.ui.enabled=false``. SQL node metrics come back
as the formatted strings the UI shows ("8.4 MiB", "1.2 s", "2,000"); stage
and task figures come back raw.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """UI metric string -> number (bytes, seconds or a count). Multi-task
    metrics read "total (min, med, max ...)\\n<total> (...)": the total is
    the first figure of the last line."""
    m = _VALUE.match(text.rsplit("\n", 1)[-1])
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt_ms(o) -> int | None:
    return o.get().getTime() if o.isDefined() else None


class StatusReader:
    """Yields each SQL execution once, with its plan nodes' metrics and the
    stages (and task durations) it ran."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = sc.statusStore()
        self._seen = -1

    def new_executions(self) -> list[dict]:
        # the listener bus delivers end-of-job events after the action
        # returns; drain it so the stores hold final values
        self._bus.waitUntilEmpty()
        out = []
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= self._seen:
                continue
            out.append(self._execution(e))
        if out:
            self._seen = max(x["id"] for x in out)
        return out

    def _execution(self, e) -> dict:
        eid = e.executionId()
        values = self._sql.executionMetrics(eid)
        nodes = []
        for nd in _seq(self._sql.planGraph(eid).allNodes()):
            metrics = {}
            for pm in _seq(nd.metrics()):
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    metrics[pm.name()] = parse_metric(v.get())
            nodes.append({"name": nd.name(), "desc": nd.desc(), "metrics": metrics})
        stage_ids = sorted(int(s) for s in e.stages().mkString(",").split(",") if s)
        return {
            "id": eid,
            "desc": e.description(),
            "start_ms": e.submissionTime(),
            "end_ms": _opt_ms(e.completionTime()),
            "nodes": nodes,
            "stages": [s for s in map(self._stage, stage_ids) if s],
        }

    def _stage(self, sid: int) -> dict | None:
        try:
            st = self._app.lastStageAttempt(sid)
        except Py4JJavaError:
            return None
        if not st.submissionTime().isDefined():
            return None  # skipped: planned, never ran
        tasks = _seq(self._app.taskList(sid, st.attemptId(), 1 << 30))
        return {
            "id": sid,
            "start_ms": _opt_ms(st.submissionTime()),
            "end_ms": _opt_ms(st.completionTime()),
            "run_s": st.executorRunTime() / 1e3,
            "gc_s": st.jvmGcTime() / 1e3,
            "shuffle_write": st.shuffleWriteBytes(),
            "shuffle_read": st.shuffleReadBytes(),
            "input_bytes": st.inputBytes(),
            "task_s": [t.duration().get() / 1e3 for t in tasks if t.duration().isDefined()],
        }
