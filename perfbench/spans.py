"""Spans around the crawl layers, recorded from outside the engine, and the
roll-up of Spark's own task metrics per job group.

``traced(tracer, crawl_mod, keeping_log)`` swaps ``plans.crawl.crawl_round``,
``plans.crawl.load_seen`` and the ``SnapshotLog`` class that ``run_crawl``
instantiates for wrappers that time each call and tag the Spark jobs it
starts with a job group. The tag is set inside the calling thread, because
Spark local properties are per thread and ``run_crawl`` writes its seven
sinks from a thread pool.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
SINKS = ("frontier", "seen_delta", "bloom", "schedule", "fetch_log", "text", "entries")
TAGS = ("materialize", "build_frontier", "sink.frontier", "sink.text", "sink.other", "lifecycle")
# Spans that make up a round's wall, apart from the sinks, whose union
# interval is counted once because they run concurrently.
ROUND_PARTS = (
    "plans.crawl.plan",
    "plans.crawl.materialize",
    "plans.crawl.build_frontier",
    "plans.checkpoint.commit",
    "plans.checkpoint.compact_seen",
    "plans.checkpoint.vacuum",
    "plans.checkpoint.load_table",
    "plans.checkpoint.load_seen",
)


def sink_tag(name: str) -> str:
    return f"sink.{name}" if name in ("frontier", "text") else "sink.other"


class Tracer:
    """In-memory spans of one traced window. A span is
    ``{name, round, start, end, **attrs}``; ``round`` is the
    ``"<episode>/<round_no>"`` id of the round span that caused it."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.rounds: list[dict] = []
        self.episode = ""
        self._lock = threading.Lock()

    def begin_round(self, round_no: int) -> None:
        now = time.monotonic()
        if self.rounds and self.rounds[-1]["end"] is None:
            self.rounds[-1]["end"] = now
        self.rounds.append(
            {"name": "plans.crawl.round", "round": f"{self.episode}/{round_no}",
             "start": now, "end": None}
        )

    def end_episode(self) -> None:
        if self.rounds and self.rounds[-1]["end"] is None:
            self.rounds[-1]["end"] = time.monotonic()

    @contextmanager
    def span(self, name: str, group: str | None = None):
        attrs: dict = {}
        rnd = self.rounds[-1]["round"] if self.rounds else None
        if group:
            prev = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, group)
        t0 = time.monotonic()
        try:
            yield attrs
        finally:
            t1 = time.monotonic()
            if group:
                self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append({"name": name, "round": rnd, "start": t0, "end": t1, **attrs})

    def wrap(self, fn, name: str, group: str | None = None):
        def wrapped(*args, **kwargs):
            with self.span(name, group):
                return fn(*args, **kwargs)

        return wrapped

    def round_table(self) -> dict[str, dict[str, float]]:
        """Per round: seconds per span name, ``sinks`` as the union
        interval of the concurrent sink writes, ``bytes.<sink>``, the round
        wall and the unaccounted remainder."""
        out: dict[str, dict[str, float]] = {}
        for r in self.rounds:
            out[r["round"]] = {"round": r["end"] - r["start"]}
        sink_iv: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            row = out.get(s["round"])
            if row is None:
                continue
            row[s["name"]] = row.get(s["name"], 0.0) + s["end"] - s["start"]
            if s["name"].startswith("plans.checkpoint.write."):
                sink_iv[s["round"]].append((s["start"], s["end"]))
                key = "bytes." + s["name"].rsplit(".", 1)[1]
                row[key] = row.get(key, 0) + s.get("bytes", 0)
        for rid, row in out.items():
            iv = sink_iv.get(rid)
            row["sinks"] = max(e for _, e in iv) - min(s for s, _ in iv) if iv else 0.0
            row["unaccounted"] = row["round"] - row["sinks"] - sum(
                row.get(p, 0.0) for p in ROUND_PARTS
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"rounds": self.rounds, "spans": self.spans}, f)


@contextmanager
def traced(tracer: Tracer, crawl_mod, keeping_log):
    """Route ``run_crawl``'s calls into the layers through ``tracer``."""
    real_round, real_load_seen = crawl_mod.crawl_round, crawl_mod.load_seen

    def crawl_round(*args, **kwargs):
        tracer.begin_round(args[6] if len(args) > 6 else kwargs["round_no"])
        with tracer.span("plans.crawl.plan"):
            out = real_round(*args, **kwargs)
        out["materialize"] = tracer.wrap(out["materialize"], "plans.crawl.materialize", "materialize")
        out["build_frontier"] = tracer.wrap(
            out["build_frontier"], "plans.crawl.build_frontier", "build_frontier"
        )
        return out

    class TracedLog(keeping_log):
        def write_table(self, df, round_no, name):
            with tracer.span(f"plans.checkpoint.write.{name}", sink_tag(name)) as attrs:
                manifest = super().write_table(df, round_no, name)
                attrs["bytes"] = sum(f["bytes"] for f in manifest["files"])
            return manifest

        def commit(self, *args, **kwargs):
            with tracer.span("plans.checkpoint.commit"):
                return super().commit(*args, **kwargs)

        def compact_seen(self, *args, **kwargs):
            with tracer.span("plans.checkpoint.compact_seen", "lifecycle"):
                return super().compact_seen(*args, **kwargs)

        def vacuum_engine_state(self, *args, **kwargs):
            with tracer.span("plans.checkpoint.vacuum", "lifecycle"):
                return super().vacuum_engine_state(*args, **kwargs)

        def load_table(self, *args, **kwargs):
            with tracer.span("plans.checkpoint.load_table", "lifecycle"):
                return super().load_table(*args, **kwargs)

    crawl_mod.crawl_round = crawl_round
    crawl_mod.load_seen = tracer.wrap(real_load_seen, "plans.checkpoint.load_seen", "lifecycle")
    crawl_mod.SnapshotLog = TracedLog
    try:
        yield
    finally:
        crawl_mod.crawl_round, crawl_mod.load_seen = real_round, real_load_seen
        crawl_mod.SnapshotLog = keeping_log


def rollup_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum Spark task metrics per job group from an uncompressed, unrolled
    event log: ``{group: {task_s, cpu_s, gc_s, shuffle_write_bytes,
    spill_bytes, input_bytes, jobs, stages, tasks}}``. Python UDF time shows
    in ``task_s`` but not in ``cpu_s``, which is JVM CPU only."""
    stage_group: dict[tuple[int, int], str | None] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(GROUP_KEY)
                    out[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    g = (ev.get("Properties") or {}).get(GROUP_KEY)
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
                    out[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    m = ev.get("Task Metrics") or {}
                    row = out[g]
                    row["tasks"] += 1
                    row["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    row["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return {g: dict(v) for g, v in out.items()}
