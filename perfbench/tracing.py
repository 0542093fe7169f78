"""Spans around calls into the engine, and Spark's per-stage figures.

``Tracer`` keeps spans in memory (name, start, end, parent, op id) and
writes them with the run's metrics as one JSON file when the run ends.
``StageReader`` reads job and stage records from Spark's status store
through py4j; the store is filled even with the web UI disabled.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time the block; when tracing is off, only the caller's own
        timing runs."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def write(self, path: str, **payload) -> None:
        with open(path, "w") as f:
            json.dump(
                {**payload, "self_time_s": self.self_times(), "spans": self.spans},
                f,
                indent=1,
                default=str,
            )


def _opt_ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StageReader:
    """Jobs and stages that ran after a mark, from the status store."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def last_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def between(self, lo: int, hi: int) -> list[dict]:
        """One record per job with ``lo < id <= hi``, each with its stages."""
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if not lo < j.jobId() <= hi:
                continue
            stages = []
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                try:
                    s = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — never-submitted stage
                    continue
                if str(s.status()) != "COMPLETE":
                    continue
                stages.append(
                    {
                        "stage_id": sid,
                        "attempt": s.attemptId(),
                        "tasks": s.numCompleteTasks(),
                        "executor_s": s.executorRunTime() / 1000.0,
                        "input_bytes": s.inputBytes(),
                        "output_bytes": s.outputBytes(),
                        "shuffle_read_bytes": s.shuffleReadBytes(),
                        "shuffle_write_bytes": s.shuffleWriteBytes(),
                        "submitted": _opt_ms(s.submissionTime()),
                        "completed": _opt_ms(s.completionTime()),
                    }
                )
            out.append(
                {
                    "job_id": j.jobId(),
                    "submitted": _opt_ms(j.submissionTime()),
                    "completed": _opt_ms(j.completionTime()),
                    "stages": stages,
                }
            )
        return out

    def task_skew(self, stage: dict) -> float:
        """max / median task duration of one stage."""
        tasks = self.store.taskList(stage["stage_id"], stage["attempt"], 100_000)
        durs = sorted(
            tasks.apply(i).duration().get()
            for i in range(tasks.size())
            if tasks.apply(i).duration().isDefined()
        )
        if not durs:
            return 0.0
        mid = durs[len(durs) // 2] if len(durs) % 2 else (durs[len(durs) // 2 - 1] + durs[len(durs) // 2]) / 2
        return durs[-1] / mid if mid > 0 else 0.0


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
