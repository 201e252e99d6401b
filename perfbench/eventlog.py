"""Read a Spark event log and total its work by job group.

The benchmark labels every call it makes into the engine with a job group
(``SparkContext.setJobGroup``), so each job, stage, task and SQL execution in
the log maps back to one benchmark span.  This module turns the log into
per-group totals:

* jobs, shuffle bytes written and spill bytes, summed from
  the task-end metrics of the stages those jobs ran;
* the executed physical plan nodes of the group's SQL executions, with each
  node's SQL metrics (rows out, scan time, ...) summed from the accumulator
  updates that the group's tasks and query planning produced.

A plan node counts as executed in a group only when one of its metrics was
updated by that group, so a cached sub-plan that a later action only reads
is not counted again.

The log must be uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

STREAM_QUERY_KEY = "sql.streaming.queryId"
STREAM_GROUP = "stream"


@dataclass
class Node:
    name: str
    location: str
    metrics: dict[str, int]
    children: list["Node"] = field(default_factory=list)
    acc_ids: tuple[int, ...] = ()

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


@dataclass
class GroupTotals:
    jobs: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    nodes: list[Node] = field(default_factory=list)

    def executed(self, prefix: str, location: str = "") -> list[Node]:
        """Executed plan nodes whose name starts with ``prefix``, optionally
        reading a path that contains ``location``; one per distinct node."""
        return [
            n for n in self.nodes
            if n.name.startswith(prefix) and location in n.location
        ]


def _log_file(log_dir: str) -> str:
    """The application's event file: one plain file, as the benchmark turns
    rolling logs off."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    return os.path.join(log_dir, name)


class EventLog:
    def __init__(self, log_dir: str):
        self.job_group: dict[int, str | None] = {}
        self.stage_group: dict[int, str | None] = {}
        self.exec_group: dict[int, str | None] = {}
        self.exec_plan: dict[int, dict] = {}
        # accumulator id -> group -> summed update
        self.acc: dict[int, dict[str | None, int]] = defaultdict(lambda: defaultdict(int))
        self.task: dict[str | None, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        # updates posted outside tasks (scan file counts and sizes) can
        # precede the execution's first job, so they are attributed once the
        # whole log is read
        self.planning_updates: list[tuple[int, int, int]] = []
        with open(_log_file(log_dir)) as f:
            for line in f:
                self._event(json.loads(line))
        for ex, acc_id, value in self.planning_updates:
            self.acc[acc_id][self.exec_group.get(ex)] += value

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None and STREAM_QUERY_KEY in props:
                group = STREAM_GROUP
            self.job_group[e["Job ID"]] = group
            for sid in e["Stage IDs"]:
                self.stage_group.setdefault(sid, group)
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                self.exec_group.setdefault(int(ex), group)
        elif kind == "SparkListenerTaskEnd":
            group = self.stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            t = self.task[group]
            t["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    self.acc[a["ID"]][group] += int(a.get("Update") or 0)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.exec_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.planning_updates.append((e["executionId"], acc_id, int(value)))

    def _node(self, info: dict, group: str | None) -> Node:
        updated = [
            m for m in info.get("metrics", [])
            if group in self.acc.get(m["accumulatorId"], {})
        ]
        return Node(
            info["nodeName"],
            (info.get("metadata") or {}).get("Location", ""),
            {m["name"]: self.acc[m["accumulatorId"]][group] for m in updated},
            [self._node(c, group) for c in info.get("children", [])],
            tuple(sorted(m["accumulatorId"] for m in updated)),
        )

    def group(self, name: str) -> GroupTotals:
        t = self.task.get(name, {})
        out = GroupTotals(
            jobs=sum(1 for g in self.job_group.values() if g == name),
            shuffle_bytes=t.get("shuffle_bytes", 0),
            spill_bytes=t.get("spill_bytes", 0),
        )
        seen: set[tuple[int, ...]] = set()
        for ex, group in sorted(self.exec_group.items()):
            if group != name or ex not in self.exec_plan:
                continue
            for node in self._node(self.exec_plan[ex], name).walk():
                if node.acc_ids and node.acc_ids not in seen:
                    seen.add(node.acc_ids)
                    out.nodes.append(node)
        return out
