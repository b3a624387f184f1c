"""Per-round records (see check.py) of the single-threaded reference crawler,
tests/oracle_crawler.py, on a benchmark corpus.

The politeness budgets are read from OFS_BUDGET_BASE / OFS_MAX_BUDGET when
the engine's politeness module is imported, so the caller sets them in the
environment before importing this module: the same values the engine
process gets.
"""

from __future__ import annotations

from check import round_record


def oracle_rounds(corpus: dict, rounds: int) -> list[dict]:
    import pandas as pd
    import pyarrow.parquet as pq

    from tests.oracle_crawler import OracleCrawler

    pages = pq.read_table(corpus["pages_dir"], columns=["url", "html"]).to_pandas()
    o = OracleCrawler(pages, pd.DataFrame(corpus["robots"]), corpus["seeds"])
    out = []
    for r in range(rounds):
        if not o.frontier:
            break
        seen_before = set(o.seen)
        n_entries = len(o.entries)
        order = o.run_round(r)
        out.append(
            round_record(
                [(seq, u) for rnd, seq, u in o.schedule if rnd == r],
                o.seen - seen_before,
                {u: o.texts[u] for u in order if u in o.texts},
                [
                    (e["page_url"], e["entry_guid"], e["title"], e["link"])
                    for e in o.entries[n_entries:]
                ],
                len(order),
            )
        )
    return out
