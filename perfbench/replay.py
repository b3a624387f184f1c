"""Isolated replays of the layers' public functions on one committed round's
inputs. Each timed call is forced with a ``noop`` write; the counts behind
the ratios are taken afterwards, untimed.

A round's inputs are the frontier and bloom of the round before it (hard
links kept at commit, since vacuum deletes them), its own schedule, seen
delta and bloom, the seen set it started from, the prepared pages and the
robots table.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from opps_feedcrawler_spark.functions.extract import extract_all_udf
from opps_feedcrawler_spark.functions.urlnorm import canonicalize_udf, with_url_cols
from opps_feedcrawler_spark.operators.politeness import (
    BUDGET_BASE,
    MAX_BUDGET,
    schedule_budgeted,
    with_global_sequence,
)
from opps_feedcrawler_spark.operators.robots import with_robots
from opps_feedcrawler_spark.operators.seen import (
    bloom_to_broadcast,
    build_seen_bloom,
    exact_new_urls,
    merge_blooms,
    probe_seen_broadcast,
)
from opps_feedcrawler_spark.plans.checkpoint import SnapshotLog
from opps_feedcrawler_spark.plans.crawl import load_seen, seeds_to_frontier

MEM = StorageLevel.MEMORY_AND_DISK


def _noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def _timed(fn):
    t0 = time.monotonic()
    out = fn()
    return out, time.monotonic() - t0


def replay_round(spark, pages, seeds, robots, warehouse: str, kept: str, r: int) -> dict:
    """Seconds spent in each replayed call (``*_s``) and the counts behind
    the layer ratios (``n_*``) for round ``r`` of the crawl in ``warehouse``."""
    log = SnapshotLog(warehouse)
    snap = log.read_snapshot(r)

    def kept_table(round_no: int, name: str):
        return spark.read.parquet(os.path.join(kept, f"round={round_no}", name))

    if r == 0:
        frontier = seeds_to_frontier(seeds)
        seen = spark.createDataFrame([], "url_norm string, url_hash long")
        bloom_prev = None
    else:
        frontier = kept_table(r - 1, "frontier")
        seen = load_seen(spark, log, r - 1)
        bloom_prev = kept_table(r - 1, "bloom")
    schedule = kept_table(r, "schedule")
    seen_delta = spark.read.parquet(snap["tables"]["seen_delta"]["path"])
    new_seen = seen.unionByName(seen_delta)
    out: dict[str, float] = {}
    cached = []

    def persist(df):
        df = df.persist(MEM)
        cached.append(df)
        return df

    # operators.robots
    out["robots_s"] = _noop(with_robots(frontier, robots))
    fr = persist(with_robots(frontier, robots))
    row = fr.agg(F.count(F.lit(1)).alias("n"), F.sum((~F.col("allowed")).cast("int")).alias("d")).first()
    out["n_frontier"], out["n_disallowed"] = row.n, row.d or 0

    # operators.politeness: same budget expression as crawl_round
    budget = F.greatest(
        F.lit(1), F.least(F.lit(MAX_BUDGET), F.floor(F.lit(BUDGET_BASE) / F.col("crawl_delay")))
    ).cast("int")
    allowed = fr.filter(F.col("allowed")).withColumn("budget", budget)
    scheduled = schedule_budgeted(allowed).drop("budget", "allowed", "crawl_delay")
    sequenced, release = with_global_sequence(scheduled, r)
    out["schedule_s"] = _noop(sequenced)
    release()
    out["n_allowed"] = out["n_frontier"] - out["n_disallowed"]
    out["n_scheduled"] = snap["metrics"]["schedule_rows"]

    # functions.extract, on the pages the round fetched
    hits = persist(pages.join(F.broadcast(schedule.select("url_norm")), "url_norm", "left_semi"))
    out["n_pages"] = hits.count()
    parsed = persist(hits.select("url_norm", extract_all_udf("html", "url_norm").alias("ex")))
    out["extract_all_s"] = _noop(parsed)
    links = persist(parsed.select(F.explode("ex.links").alias("url")))
    out["n_links"] = links.count()

    # functions.urlnorm, on every link occurrence
    out["canonicalize_s"] = _noop(links.select(canonicalize_udf("url").alias("url_norm")))
    cand = persist(
        with_url_cols(links, "url").select("url_norm", "url_hash").dropDuplicates(["url_norm"])
    )
    out["n_candidates"] = cand.count()

    # operators.seen
    delta_bloom = build_seen_bloom(seen_delta)
    out["bloom_build_s"] = _noop(delta_bloom)
    if bloom_prev is not None:
        delta_bloom = persist(delta_bloom)
        delta_bloom.count()
        out["bloom_merge_s"] = _noop(merge_blooms(bloom_prev, delta_bloom))
    bcast, out["bloom_broadcast_s"] = _timed(
        lambda: bloom_to_broadcast(spark, kept_table(r, "bloom"))
    )
    out["probe_s"] = _noop(probe_seen_broadcast(cand, bcast))
    probed = persist(probe_seen_broadcast(cand, bcast))
    maybe = persist(probed.filter(F.col("maybe_seen")).drop("maybe_seen"))
    out["n_maybe"] = maybe.count()
    out["exact_anti_join_s"] = _noop(exact_new_urls(maybe, new_seen))
    out["n_new"] = exact_new_urls(cand, new_seen).count()

    bcast.destroy()
    for df in cached:
        df.unpersist()
    return out
