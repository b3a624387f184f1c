"""Crawl benchmark: the real crawl loop (``plans.crawl.run_crawl``) on a
synthetic corpus, checked round by round against the single-threaded oracle.

Usage, from the root of a checkout:

  python3 perfbench/run.py --workload bulk-crawl --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``attempted`` and
``failed`` count crawl rounds; a round fails when it raises or when any of
its outputs differs from the oracle's. With ``--trace 0`` the metrics are
the end-to-end ones, with ``--trace 1`` the per-layer ones. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
REQUIRED = ("opps_feedcrawler_spark/plans/crawl.py", "tests/oracle_crawler.py", "bench.py")
DRIVER_MEMORY = "2g"
DEADLINE_S = 170
CORPUS_SEED = 42

# Corpus shape (sources.bench_synth), politeness budgets and the round count
# of one crawl episode. Why each workload exists is in README.md. The corpus
# is generated and prepared once per checkout at CORPUS_SEED; --seed draws the
# crawl's seed set from its pages.
WORKLOADS = {
    "bulk-crawl": dict(hosts=2000, pages=10000, seeds=200, budget_base=1000, max_budget=5000, rounds=2),
    "seen-heavy": dict(hosts=500, pages=1500, seeds=1100, budget_base=1000, max_budget=5000, rounds=2),
    # self-test only (selftest.py): a crawl small enough to run in seconds
    "toy": dict(hosts=20, pages=300, seeds=40, budget_base=10, max_budget=50, rounds=2),
}

END_TO_END = {
    "crawl_urls_per_s": "urls/s",
    "round_s_p50": "s",
    "setup_s": "s",
    "warehouse_bytes_per_url": "B/url",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from spans import SINKS, TAGS

    units = {f"plans.crawl.{k}": "s" for k in (
        "round_s", "plan_s", "materialize_s", "build_frontier_s", "sinks_s", "load_state_s",
        "unaccounted_s",
    )}
    units.update({"plans.crawl.fetch_hit_frac": "frac", "plans.crawl.frontier_per_schedule": "ratio"})
    for s in SINKS:
        units[f"plans.checkpoint.write_s.{s}"] = "s"
        units[f"plans.checkpoint.bytes.{s}"] = "B"
    for k in ("commit_s", "compact_seen_s", "vacuum_s", "load_seen_s"):
        units[f"plans.checkpoint.{k}"] = "s"
    units.update({
        "operators.robots.with_robots_s": "s",
        "operators.robots.disallowed_frac": "frac",
        "operators.politeness.schedule_s": "s",
        "operators.politeness.admit_frac": "frac",
        "functions.extract.extract_all_s": "s",
        "functions.extract.pages_per_s": "pages/s",
        "functions.extract.links_per_page": "links/page",
        "functions.urlnorm.canonicalize_s": "s",
        "functions.urlnorm.occurrences_per_distinct": "ratio",
    })
    for k in ("bloom_build_s", "bloom_merge_s", "bloom_broadcast_s", "probe_s", "exact_anti_join_s"):
        units[f"operators.seen.{k}"] = "s"
    for k in ("maybe_frac", "false_pos_frac", "new_frac"):
        units[f"operators.seen.{k}"] = "frac"
    for tag in TAGS:
        for k, unit in (("task_s", "s"), ("cpu_s", "s"), ("gc_frac", "frac"),
                        ("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("input_bytes", "B")):
            units[f"spark.{k}.{tag}"] = unit
    for k in ("jobs_per_round", "stages_per_round", "tasks_per_round"):
        units[f"spark.{k}"] = "count"
    for k in ("probe_cpu_ops", "probe_mem_copies"):
        units[f"host.{k}.before"] = "count"
        units[f"host.{k}.after"] = "count"
    units["trace.overhead_frac"] = "frac"
    return units


def workload_env(w: dict) -> None:
    """Drop inherited engine settings and set the workload's politeness
    budgets, which the engine reads when it is imported."""
    for k in [k for k in os.environ if k.startswith(("OFS_", "SPARK_GRAFT_"))]:
        del os.environ[k]
    os.environ["OFS_BUDGET_BASE"] = str(w["budget_base"])
    os.environ["OFS_MAX_BUDGET"] = str(w["max_budget"])


def engine_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
    )


def run_engine(spec: dict, run_dir: str, deadline: float) -> None:
    """Run engine.py on ``spec`` in its own process group and wait for the
    whole group (its JVM and Python workers included) to end."""
    spec_path = os.path.join(run_dir, f"{spec['mode']}.json")
    log_path = os.path.join(run_dir, f"{spec['mode']}.log")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = engine_env(run_dir)
    timeout = deadline - time.monotonic()
    t0 = time.monotonic()
    with open(log_path, "w") as log:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), spec_path], cwd=ROOT, env=env,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            rc = p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(p)
    print(f"[perfbench] engine {spec['mode']} took {time.monotonic() - t0:.1f}s", file=sys.stderr)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"engine.py {'timed out' if rc is None else f'exited {rc}'}")


def group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` is still running (zombies, which
    have ended, excluded)."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(p: subprocess.Popen) -> None:
    if p.poll() is None or group_alive(p.pid):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    p.wait()
    for _ in range(100):
        if not group_alive(p.pid):
            return
        time.sleep(0.1)


def host_probe() -> dict:
    """bench.probe's delivered CPU and memory-copy scores, taken in a fresh
    interpreter because it forks a process pool."""
    code = f"import bench, json; print(json.dumps(bench.probe({os.cpu_count() or 1})))"
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
                         check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def source_digest() -> str:
    """Digest of the code the oracle's result depends on, workload shapes
    included, so a cached oracle result is reused only by the same code."""
    import hashlib

    h = hashlib.sha256()
    files = [os.path.join(ROOT, "tests", "oracle_crawler.py")]
    files += [os.path.join(HERE, n) for n in ("run.py", "oracle.py", "check.py")]
    for d, _, names in sorted(os.walk(os.path.join(ROOT, "opps_feedcrawler_spark"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def oracle_records(name: str, w: dict, seed: int, corpus: dict) -> list[dict]:
    """The oracle's round records for this workload and seed, computed
    untimed in this process (never the engine's) and kept for later runs of
    the same code on the same seed."""
    path = os.path.join(WORK, "oracle", f"{name}-seed{seed}-{source_digest()}.json")
    if not os.path.exists(path):
        from oracle import oracle_rounds

        t0 = time.monotonic()
        records = oracle_rounds(corpus, w["rounds"])
        print(f"[perfbench] oracle took {time.monotonic() - t0:.1f}s", file=sys.stderr)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(records, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def end_to_end(res: dict) -> dict[str, float]:
    eps = res["episodes"]
    urls = sum(e["urls"] for e in eps)
    rounds = [w for e in eps for w in e["round_s"]]
    return {
        "crawl_urls_per_s": urls / sum(e["wall_s"] for e in eps),
        "round_s_p50": statistics.median(rounds) if rounds else 0.0,
        "setup_s": res["setup_s"],
        "warehouse_bytes_per_url": statistics.mean(e["bytes_per_url"] for e in eps),
        "peak_rss_mb": res["peak_rss_bytes"] / 2**20,
    }


def per_layer(res: dict, probes: dict) -> dict[str, float]:
    from spans import SINKS, TAGS

    t = res["traced"]
    rows = list(t["rounds"].values())
    n = len(rows)

    def mean(key: str) -> float:
        return sum(r.get(key, 0.0) for r in rows) / n

    m: dict[str, float] = {
        "plans.crawl.round_s": mean("round"),
        "plans.crawl.plan_s": mean("plans.crawl.plan"),
        "plans.crawl.materialize_s": mean("plans.crawl.materialize"),
        "plans.crawl.build_frontier_s": mean("plans.crawl.build_frontier"),
        "plans.crawl.sinks_s": mean("sinks"),
        "plans.crawl.load_state_s": mean("plans.checkpoint.load_table")
        + mean("plans.checkpoint.load_seen"),
        "plans.crawl.unaccounted_s": mean("unaccounted"),
    }
    snaps = [s for e in t["episodes"] for s in e["metrics"]]

    def ratio(num: str, den: str) -> float:
        return sum(s[num] for s in snaps) / max(1, sum(s[den] for s in snaps))

    m["plans.crawl.fetch_hit_frac"] = ratio("fetched_ok", "fetch_log_rows")
    m["plans.crawl.frontier_per_schedule"] = ratio("frontier_rows", "schedule_rows")
    for s in SINKS:
        m[f"plans.checkpoint.write_s.{s}"] = mean(f"plans.checkpoint.write.{s}")
        m[f"plans.checkpoint.bytes.{s}"] = mean(f"bytes.{s}")
    for k in ("commit", "compact_seen", "vacuum", "load_seen"):
        m[f"plans.checkpoint.{k}_s"] = mean(f"plans.checkpoint.{k}")

    rp = t["replays"]

    def total(key: str) -> float:
        return sum(r[key] for r in rp if key in r)

    def rmean(key: str) -> float:
        have = [r[key] for r in rp if key in r]
        return sum(have) / len(have)

    cand = max(1, total("n_candidates"))
    m.update({
        "operators.robots.with_robots_s": rmean("robots_s"),
        "operators.robots.disallowed_frac": total("n_disallowed") / max(1, total("n_frontier")),
        "operators.politeness.schedule_s": rmean("schedule_s"),
        "operators.politeness.admit_frac": total("n_scheduled") / max(1, total("n_allowed")),
        "functions.extract.extract_all_s": rmean("extract_all_s"),
        "functions.extract.pages_per_s": total("n_pages") / total("extract_all_s"),
        "functions.extract.links_per_page": total("n_links") / max(1, total("n_pages")),
        "functions.urlnorm.canonicalize_s": rmean("canonicalize_s"),
        "functions.urlnorm.occurrences_per_distinct": total("n_links") / cand,
        "operators.seen.maybe_frac": total("n_maybe") / cand,
        "operators.seen.new_frac": total("n_new") / cand,
        # bloom positives among candidates that are truly new
        "operators.seen.false_pos_frac": (total("n_maybe") - (total("n_candidates") - total("n_new")))
        / max(1, total("n_new")),
    })
    for k in ("bloom_build_s", "bloom_merge_s", "bloom_broadcast_s", "probe_s", "exact_anti_join_s"):
        m[f"operators.seen.{k}"] = rmean(k)

    spark = t["spark"]
    for tag in TAGS:
        row = spark.get(tag, {})
        for k in ("task_s", "cpu_s", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
            m[f"spark.{k}.{tag}"] = row.get(k, 0.0) / n
        m[f"spark.gc_frac.{tag}"] = row.get("gc_s", 0.0) / max(row.get("task_s", 0.0), 1e-9)
    crawl_groups = (*TAGS, "crawl")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_round"] = sum(spark.get(g, {}).get(k, 0) for g in crawl_groups) / n
    for when, p in probes.items():
        m[f"host.probe_cpu_ops.{when}"] = p["cpu_ops"]
        m[f"host.probe_mem_copies.{when}"] = p["mem_copies"]

    def rate(eps):
        return sum(e["urls"] for e in eps) / sum(e["wall_s"] for e in eps)

    m["trace.overhead_frac"] = 1.0 - rate(t["episodes"]) / rate(t["untraced"])
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-schedule", action="store_true",
                    help="self-test: alter one schedule row of the first round before the check")
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"not a checkout of the crawl engine: missing {', '.join(missing)}")

    deadline = time.monotonic() + DEADLINE_S
    w = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out = run(args, w, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


def run(args, w: dict, run_dir: str, deadline: float) -> dict:
    workload_env(w)
    sys.path.insert(0, ROOT)
    from check import engine_rounds, failed_rounds
    from opps_feedcrawler_spark.sources.bench_synth import ensure_bench_corpus

    import random

    corpus = ensure_bench_corpus(
        w["hosts"], w["pages"], w["pages"], seed=CORPUS_SEED,
        cache_root=os.path.join(WORK, "corpus"), workers=min(4, os.cpu_count() or 1),
    )
    corpus["seeds"] = random.Random(args.seed).sample(corpus["seeds"], w["seeds"])
    oracle = oracle_records(args.workload, w, args.seed, corpus)
    prepared = corpus["pages_dir"] + "_prepared_zstd"
    if not os.path.exists(os.path.join(prepared, "_SUCCESS")):
        run_engine(dict(mode="prepare", pages_dir=corpus["pages_dir"], prepared=prepared,
                        run_dir=run_dir), run_dir, deadline)

    probes = {"before": host_probe()} if args.trace else {}
    run_engine(dict(corpus, mode="crawl", prepared=prepared, run_dir=run_dir, rounds=w["rounds"],
                    seconds=args.seconds, trace=bool(args.trace), spawn_wall=time.time()),
               run_dir, deadline)
    if args.trace:
        probes["after"] = host_probe()
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    first = engine_rounds(res["template"], res["template"] + "-kept")
    if args.corrupt_schedule:
        first[0]["schedule"][0][1] += "#corrupted"
    attempted, failed = len(first), len(failed_rounds(first, oracle[:1]))
    traced = res.get("traced", {})
    episodes = res["warmup"] + res.get("episodes", []) + traced.get("episodes", [])
    for e in episodes + traced.get("untraced", []):
        attempted += e["rounds"] + e["error"]
        failed += len(failed_rounds(engine_rounds(e["warehouse"], e["kept"], 1), oracle, 1))
        failed += e["error"]
        print(f"[perfbench] episode: {e['urls']} urls, {e['wall_s']:.2f}s wall, round walls "
              f"{[round(x, 2) for x in e['round_s']]}, scheduled "
              f"{[m['schedule_rows'] for m in e['metrics']]}", file=sys.stderr)
    print(f"[perfbench] {args.workload} seed {args.seed}: {failed} of {attempted} rounds failed",
          file=sys.stderr)

    if args.trace:
        if "traced" not in res:
            raise SystemExit("the traced window did not run: the warm-up episode failed")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.json"),
                    os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        values, units = per_layer(res, probes), per_layer_units()
    else:
        values, units = end_to_end(res), END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    main()
