"""Engine side of one benchmark run, in its own process.

Usage: python3 perfbench/engine.py <spec.json>   (written by run.py)

With ``"mode": "prepare"`` it ingests the corpus once (``prepare_pages``,
written as zstd Parquet, as bench.py does). With ``"mode": "crawl"`` it
runs Spark set-up, the timed crawl window and, for a traced run, the traced
window with per-layer spans, the replays and Spark's task metrics, and
writes ``result.json`` into the spec's run directory. The politeness
budgets come from the environment run.py sets, because the engine reads
them when it is imported.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from check import read_snapshots  # noqa: E402

ROBOTS_SCHEMA = "host string, crawl_delay double, rules array<struct<allow:boolean,prefix:string>>"
# Lifecycle as in bench.py: seen compaction every 2 rounds, engine state
# vacuumed down to the newest snapshot after every commit.
COMPACT_SEEN_EVERY = 2
VACUUM_KEEP = 1
KEEP_TABLES = ("schedule", "frontier", "bloom")


def proc_tree_pss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants (the JVM it
    launched and Spark's Python workers), read from /proc. Each process counts
    its proportional share (Pss) of pages it shares with others, so the
    pages forked Python workers share are counted once."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakMemory:
    """Peak resident memory of this process tree, sampled every
    ``interval`` seconds between ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, proc_tree_pss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


def keeping_log_class(base):
    """``SnapshotLog`` that hard-links each committed round's schedule,
    frontier and bloom files into ``<warehouse>-kept/round=N/<table>``
    before vacuum can delete them: the oracle check reads every round's
    schedule, and the replays read every round's inputs."""

    class KeepingLog(base):
        def commit(self, round_no, manifests, metrics, timings=None):
            sid = base.commit(self, round_no, manifests, metrics, timings=timings)
            for name in KEEP_TABLES:
                dst = os.path.join(self.warehouse + "-kept", f"round={round_no}", name)
                os.makedirs(dst, exist_ok=True)
                for fn in os.listdir(manifests[name]["path"]):
                    if fn.endswith(".parquet"):
                        os.link(os.path.join(manifests[name]["path"], fn), os.path.join(dst, fn))
            return sid

    return KeepingLog


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, fn)) for d, _, files in os.walk(path) for fn in files
    )


def session(spec: dict):
    """Spark on all cores of this host, with every file it writes inside
    the run directory, and the event log on for traced runs."""
    from opps_feedcrawler_spark.session import get_spark

    cores = os.cpu_count() or 1
    local = os.path.join(spec["run_dir"], "spark-local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(spec["run_dir"], "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Xms{os.environ['SPARK_DRIVER_MEMORY']}",
    }
    if spec.get("trace"):
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir(spec),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(event_log_dir(spec))
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log_dir(spec: dict) -> str:
    return os.path.join(spec["run_dir"], "eventlog")


def prepare(spec: dict) -> None:
    """Corpus ingestion, once per corpus: canonical URLs, one page each."""
    from opps_feedcrawler_spark.plans.crawl import prepare_pages

    spark = session(spec)
    tmp = spec["prepared"] + ".tmp"
    prepare_pages(spark.read.parquet(spec["pages_dir"])).write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(tmp)
    spark.stop()
    os.rename(tmp, spec["prepared"])


class Crawl:
    """The Spark session, the prepared corpus and one workload's crawl."""

    def __init__(self, spec: dict) -> None:
        from opps_feedcrawler_spark.plans import crawl as crawl_mod

        self.spec = spec
        self.run_dir = spec["run_dir"]
        self.crawl_mod = crawl_mod
        self.spark = session(spec)
        self.pages = self.spark.read.parquet(spec["prepared"])
        self.seeds = self.spark.createDataFrame([(u,) for u in spec["seeds"]], ["url"])
        self.robots = self.spark.createDataFrame(spec["robots"], schema=ROBOTS_SCHEMA)
        self.keeping_log = keeping_log_class(crawl_mod.SnapshotLog)

    def crawl(self, warehouse: str, rounds: int) -> None:
        self.crawl_mod.run_crawl(
            self.spark, self.pages, self.seeds, self.robots, warehouse, rounds=rounds,
            pages_prepared=True, compact_seen_every=COMPACT_SEEN_EVERY, vacuum_keep=VACUUM_KEEP,
        )

    def first_round(self) -> str:
        """Round 0 from the seeds, committed to the template warehouse every
        timed episode resumes from. It is the warm-up: JVM code
        generation, Python workers and the page cache."""
        wh = os.path.join(self.run_dir, "wh", "template")
        self.crawl(wh, rounds=1)
        return wh

    def episode(self, template: str, name: str, tracer=None) -> dict:
        """Resume a copy of the template at round 1 and crawl until the
        frontier drains or the workload's round count. Round walls run from
        one snapshot commit to the next, the first from the episode start."""
        wh = os.path.join(self.run_dir, "wh", name)
        clone_warehouse(template, wh)
        error = None
        start_wall, t0 = time.time(), time.monotonic()
        try:
            self.crawl(wh, rounds=self.spec["rounds"])
        except Exception:  # a failed round is a measured outcome, not a benchmark crash
            error = traceback.format_exc()
            print(error, file=sys.stderr)
        wall = time.monotonic() - t0
        if tracer is not None:
            tracer.end_episode()
        snaps = read_snapshots(wh)
        commits = [start_wall] + [s["committed_ts"] for s in snaps[1:]]
        metrics = [s["metrics"] for s in snaps]
        return {
            "warehouse": wh,
            "kept": wh + "-kept",
            "rounds": len(snaps) - 1,
            "error": error is not None,
            "wall_s": wall,
            "round_s": [b - a for a, b in zip(commits, commits[1:])],
            "urls": sum(urls(m) for m in metrics[1:]),
            "bytes_per_url": dir_bytes(wh) / max(1, sum(urls(m) for m in metrics)),
            "metrics": metrics[1:],
        }

    def window(self, template: str, label: str, seconds: float, tracer=None) -> list[dict]:
        """Closed loop: one crawl loop, rounds back to back, whole episodes
        until at least ``seconds`` have passed."""
        episodes: list[dict] = []
        start = time.monotonic()
        while not episodes or (time.monotonic() - start < seconds and not episodes[-1]["error"]):
            name = f"{label}{len(episodes)}"
            if tracer is not None:
                tracer.episode = name
            episodes.append(self.episode(template, name, tracer))
        return episodes


def urls(m: dict) -> int:
    """URLs processed in a round, as bench.py counts them."""
    return m["schedule_rows"] + m["fetch_log_rows"] + m["text_rows"] + m["entries_rows"]


def clone_warehouse(src: str, dst: str) -> None:
    """Copy a warehouse and its kept links, pointing the copied snapshot
    manifests at the copy, so vacuum in ``dst`` never touches ``src``."""
    shutil.copytree(src, dst)
    shutil.copytree(src + "-kept", dst + "-kept")
    snap_dir = os.path.join(dst, "snapshots")
    for fn in os.listdir(snap_dir):
        path = os.path.join(snap_dir, fn)
        with open(path) as f:
            text = f.read()
        with open(path, "w") as f:
            f.write(text.replace(src + os.sep, dst + os.sep))


def traced_window(crawl: Crawl, template: str, seconds: float) -> dict:
    """The traced window, then an untraced one to compare it with, then
    the replays of every traced round."""
    from replay import replay_round
    from spans import Tracer, traced

    sc = crawl.spark.sparkContext
    tracer = Tracer(sc)
    sc.setLocalProperty("spark.jobGroup.id", "crawl")
    with traced(tracer, crawl.crawl_mod, crawl.keeping_log):
        episodes = crawl.window(template, "traced", seconds, tracer)
    sc.setLocalProperty("spark.jobGroup.id", None)
    untraced = crawl.window(template, "untraced", seconds)
    sc.setLocalProperty("spark.jobGroup.id", "replay")
    replays = [
        replay_round(crawl.spark, crawl.pages, crawl.seeds, crawl.robots, e["warehouse"], e["kept"], r)
        for e in episodes
        for r in range(1, e["rounds"] + 1)
    ]
    tracer.dump(os.path.join(crawl.run_dir, "spans.json"))
    return {
        "episodes": episodes,
        "untraced": untraced,
        "rounds": tracer.round_table(),
        "replays": replays,
    }


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    if spec["mode"] == "prepare":
        prepare(spec)
        return
    crawl = Crawl(spec)
    crawl.crawl_mod.SnapshotLog = crawl.keeping_log
    template = crawl.first_round()
    result = {"setup_s": time.time() - spec["spawn_wall"], "template": template, "warmup": []}
    if not spec["trace"]:
        sampler = PeakMemory()
        sampler.start()
        result["episodes"] = crawl.window(template, "timed", spec["seconds"])
        result["peak_rss_bytes"] = sampler.stop()
    else:
        # One untimed episode first, so that the traced window and the
        # untraced one it is compared with are equally warm.
        result["warmup"] = crawl.window(template, "warmup", 0)
        if not result["warmup"][-1]["error"]:
            result["traced"] = traced_window(crawl, template, spec["seconds"])
    crawl.spark.stop()
    if "traced" in result:
        from spans import rollup_event_log

        # complete only once the session has stopped
        result["traced"]["spark"] = rollup_event_log(event_log_dir(spec))
    with open(os.path.join(spec["run_dir"], "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
