"""Per-round crawl outputs in one canonical form, so the engine's committed
tables and the single-threaded oracle can be compared with ``==``.

A round record holds the schedule as ``[seq, url_norm]`` pairs in seq order,
the round's seen delta, a SHA-256 digest of each fetched page's extracted
text (byte-exact), the round's feed entries and its fetch-log row count.
"""

from __future__ import annotations

import hashlib
import json
import os


def text_digest(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()


def round_record(
    schedule: list[tuple[int, str]],
    seen_delta,
    texts: dict[str, str | None],
    entries,
    fetch_log_rows: int,
) -> dict:
    """``entries`` yields ``(page_url, entry_guid, title, link)`` tuples;
    duplicates collapse, as the engine's entries sink dedups them."""
    return {
        "schedule": [[int(s), u] for s, u in sorted(schedule)],
        "seen_delta": sorted(seen_delta),
        "texts": {u: text_digest(t) for u, t in sorted(texts.items())},
        "entries": sorted({json.dumps(list(e)) for e in entries}),
        "fetch_log_rows": int(fetch_log_rows),
    }


def _read(path: str, columns: list[str]):
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pydict()


def read_snapshots(warehouse: str) -> list[dict]:
    """Every committed snapshot of a warehouse, in round order."""
    snap_dir = os.path.join(warehouse, "snapshots")
    out = []
    for fn in sorted(os.listdir(snap_dir)):
        if fn.startswith("snap-") and fn.endswith(".json"):
            with open(os.path.join(snap_dir, fn)) as f:
                out.append(json.load(f))
    return out


def engine_rounds(warehouse: str, kept: str, first: int = 0) -> list[dict]:
    """Records of rounds ``first``.. of one engine crawl. ``kept`` holds hard
    links to each round's schedule files, which vacuum removes from the
    warehouse."""
    out = []
    for snap in read_snapshots(warehouse)[first:]:
        tables = snap["tables"]
        sched = _read(os.path.join(kept, f"round={snap['round']}", "schedule"), ["seq", "url_norm"])
        seen = _read(tables["seen_delta"]["path"], ["url_norm"])
        text = _read(tables["text"]["path"], ["url", "text"])
        ent = _read(tables["entries"]["path"], ["page_url", "entry_guid", "title", "link"])
        out.append(
            round_record(
                list(zip(sched["seq"], sched["url_norm"])),
                seen["url_norm"],
                dict(zip(text["url"], text["text"])),
                zip(ent["page_url"], ent["entry_guid"], ent["title"], ent["link"]),
                snap["metrics"]["fetch_log_rows"],
            )
        )
    return out


def failed_rounds(engine: list[dict], oracle: list[dict], first: int = 0) -> list[int]:
    """Rounds whose outputs differ from the oracle's, for engine records of
    rounds ``first``.. of one crawl. A crawl that stops at another round
    than the oracle's fails its last round: the frontier it committed there
    was wrong."""
    rounds = range(first, first + len(engine))
    bad = [r for r, rec in zip(rounds, engine) if r >= len(oracle) or rec != oracle[r]]
    if engine and rounds[-1] != len(oracle) - 1 and rounds[-1] not in bad:
        bad.append(rounds[-1])
    return bad
