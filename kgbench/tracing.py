"""Benchmark-side tracing: layer spans and the Spark event-log parser.

Spans are recorded by the benchmark around its calls into each layer
(name, start, end, parent, run id), kept in memory and written out when
the run ends.  Each span also tags the Spark jobs it launches with a job
group of the same name, so the event log, parsed here from outside the
program, attributes executor time, GC, shuffle and spill to layers.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sc = self.spark.sparkContext if self.spark is not None else None
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent,
               "run_id": self.run_id, "start": time.perf_counter(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]["name"]
                    sc.setJobGroup(outer, outer)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def self_times(self) -> dict[str, float]:
        """Self time per span name, summed over spans of that name."""
        out: dict[str, float] = {}
        for s, t in zip(self.spans, span_self_times(self.spans)):
            out[s["name"]] = out.get(s["name"], 0.0) + t
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval covered by
    its direct children (clipped to the parent; overlapping children
    count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = _union_length(
            (max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], ())
            if min(b, hi) > max(a, lo))
        out.append((hi - lo) - covered)
    return out


# ---------------------------------------------------------------- event log

def _new_group() -> dict:
    return {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "input_bytes": 0, "output_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "stage_task_ms": {}}


def parse_event_log(lines, group_alias=None) -> dict[str, dict]:
    """Spark event-log JSON lines -> per job group task aggregates.

    Stages map to the job group of the job that submitted them (the
    spark.jobGroup.id property at job start); jobs outside any group
    land in "" .  group_alias renames groups (e.g. a streaming query's
    run id to "streaming").  Per group: task count, executor run/CPU/GC
    seconds, input/output/shuffle/spill bytes, and per-stage task
    durations (ms) for skew."""
    alias = group_alias or {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            g = alias.get(g, g)
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"), "")
            agg = groups.setdefault(g, _new_group())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            agg["tasks"] += 1
            agg["run_s"] += m.get("Executor Run Time", 0) / 1e3
            agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            agg["input_bytes"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            agg["output_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            agg["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            agg["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            agg["stage_task_ms"].setdefault(
                ev.get("Stage ID"), []).append(dur)
    return groups


def _event_file_order(p: Path):
    # rolled logs: events_<n>_<app id>, read in n order
    parts = p.name.split("_")
    return int(parts[1]) if parts[0] == "events" and parts[1].isdigit() \
        else 0


def read_event_log(log_dir: Path, group_alias=None) -> dict[str, dict]:
    """Parse the one application's event log under log_dir (a plain
    file, or a rolled eventlog_v2_* directory)."""
    files = sorted((p for p in Path(log_dir).rglob("*") if p.is_file()
                    and not p.name.startswith((".", "appstatus"))),
                   key=_event_file_order)
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")

    def lines():
        for p in files:
            with open(p, encoding="utf-8") as f:
                yield from f
    return parse_event_log(lines(), group_alias)


def task_skew(agg: dict) -> float:
    """max / median task time of the group's heaviest stage (by total
    task time) among stages with at least two tasks; 1.0 if none."""
    best, best_total = 1.0, -1
    for durs in agg["stage_task_ms"].values():
        if len(durs) < 2:
            continue
        xs = sorted(durs)
        med = xs[len(xs) // 2] if len(xs) % 2 else \
            (xs[len(xs) // 2 - 1] + xs[len(xs) // 2]) / 2
        if sum(xs) > best_total and med > 0:
            best, best_total = xs[-1] / med, sum(xs)
    return float(best)


def merge_groups(groups: dict[str, dict], names) -> dict:
    """Sum several groups' aggregates into one."""
    out = _new_group()
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        for k, v in g.items():
            if k == "stage_task_ms":
                out[k].update(v)
            else:
                out[k] += v
    return out
