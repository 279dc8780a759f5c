"""Replay of a Spark event log: task busy time, GC, scheduling gaps and
delay, shuffle bytes and Exchange nodes, attributed to trace spans.

The same quantities ``scripts/profile_leg.py`` prints per stage, read
here from the JSON-lines log Spark writes with
``spark.eventLog.enabled``.
"""

from __future__ import annotations

import json
import os

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_EXCHANGES = ("Exchange", "BroadcastExchange")


class EventLog:
    """Tasks, stages and SQL plans of one application's event log."""

    def __init__(self, log_dir: str):
        files = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
        self.tasks: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            getting = info.get("Getting Result Time", 0)
            finish = info["Finish Time"]
            self.tasks.append({
                "stage": e["Stage ID"],
                "launch": info["Launch Time"] / 1000,
                "finish": finish / 1000,
                "run": m.get("Executor Run Time", 0) / 1000,
                "deser": m.get("Executor Deserialize Time", 0) / 1000,
                "ser": m.get("Result Serialization Time", 0) / 1000,
                "getting": (finish - getting) / 1000 if getting else 0.0,
                "gc": m.get("JVM GC Time", 0) / 1000,
                "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
            })
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" in si and "Completion Time" in si:
                self.stages[si["Stage ID"]] = {
                    "submit": si["Submission Time"] / 1000,
                    "done": si["Completion Time"] / 1000,
                }
        elif kind in (_SQL_START, _SQL_ADAPTIVE):
            ex = self.sql.setdefault(e["executionId"], {})
            if "time" in e:
                ex["start"] = e["time"] / 1000
            # the adaptive update carries the plan as finally executed
            ex["plan"] = e["sparkPlanInfo"]

    def window(self, t0: float, t1: float, cores: int) -> dict[str, float]:
        """Runtime figures for tasks launched in [t0, t1] (epoch seconds)."""
        tasks = [t for t in self.tasks if t0 <= t["launch"] <= t1]
        busy = sum(t["run"] for t in tasks)
        delay = sum(
            max(0.0, (t["finish"] - t["launch"]) - t["run"] - t["deser"]
                - t["ser"] - t["getting"])
            for t in tasks
        )
        spans = sorted(
            (max(s["submit"], t0), min(s["done"], t1))
            for s in self.stages.values() if s["done"] >= t0 and s["submit"] <= t1
        )
        covered, cur0, cur1 = 0.0, None, None
        for a, b in spans:
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    covered += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            covered += cur1 - cur0
        wall = t1 - t0
        return {
            "gc_s": sum(t["gc"] for t in tasks),
            "task_busy_share": busy / (wall * cores) if wall > 0 else 0.0,
            "sched_gap_s": max(0.0, wall - covered),
            "sched_delay_s": delay,
        }

    def stage_busy_s(self, stage_ids: set[int]) -> float:
        return sum(t["run"] for t in self.tasks if t["stage"] in stage_ids)

    def stage_shuffle_mb(self, stage_ids: set[int]) -> float:
        return sum(t["shuffle_bytes"] for t in self.tasks if t["stage"] in stage_ids) / 1e6

    def stages_submitted_in(self, windows: list[tuple[float, float]]) -> set[int]:
        return {sid for sid, s in self.stages.items()
                if any(a <= s["submit"] <= b for a, b in windows)}

    def exchanges_started_in(self, windows: list[tuple[float, float]]) -> int:
        n = 0
        for ex in self.sql.values():
            if "start" in ex and any(a <= ex["start"] <= b for a, b in windows):
                n += _count_nodes(ex["plan"], _EXCHANGES)
        return n


def _count_nodes(plan: dict, names: tuple[str, ...]) -> int:
    own = 1 if plan.get("nodeName") in names else 0
    return own + sum(_count_nodes(c, names) for c in plan.get("children", ()))
