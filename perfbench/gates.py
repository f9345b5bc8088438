"""Correctness gates, run outside every timed region.

Pipeline workloads: the gold ``daily_insights`` rows are compared with an
independent pure-Python recomputation from the generated items (sums,
rounded averages, maxima, engagement ratio and the mode tie-break of
``operators/mode.py``: highest count, then smallest category string).
Row counts of silver, the channel dimension and the weekly HTML are
checked too.

Catalog workloads: each query's collected result is compared with its
registered DuckDB oracle through ``parity.compare_frames``.

Every function returns a list of problem strings; empty means correct.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

GOLD_COLS = [
    "total_views", "average_views", "highest_views",
    "total_likes", "average_likes", "highest_likes",
    "total_comments", "average_comments", "highest_comments",
    "engagement_ratio", "top_category_id",
]


def _round2(x: float) -> float:
    """Spark's ``round(double, 2)``: HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def expected_from_rows(rows: list[dict]) -> dict:
    """Gold row per region, video count and channel ids for one day."""
    by_region = defaultdict(list)
    for r in rows:
        by_region[r["region"]].append(r)
    gold = {}
    for region, rs in sorted(by_region.items()):
        g = {}
        for src, name in (("views", "views"), ("likes", "likes"), ("comments", "comments")):
            vals = [r[src] for r in rs]
            g[f"total_{name}"] = sum(vals)
            g[f"average_{name}"] = _round2(sum(vals) / len(vals))
            g[f"highest_{name}"] = max(vals)
        tv = g["total_views"]
        g["engagement_ratio"] = (
            (g["total_likes"] + 2 * g["total_comments"]) / tv * 1000.0 if tv > 0 else 0.0
        )
        counts = Counter(r["category_id"] for r in rs)
        g["top_category_id"] = int(min(counts, key=lambda c: (-counts[c], c)))
        gold[region] = g
    return {
        "videos": len(rows),
        "channels": sorted({r["channel_id"] for r in rows}),
        "gold": gold,
    }


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9)
    return a == b


def check_gold(expected: dict, gold_rows: list[dict]) -> list[str]:
    """``expected``: date -> expected_from_rows(); ``gold_rows``: gold table
    rows as dicts with ``region``, ``date`` (ISO string) and GOLD_COLS."""
    problems = []
    seen = set()
    for row in gold_rows:
        key = (row["date"], row["region"])
        seen.add(key)
        exp = expected.get(row["date"], {}).get("gold", {}).get(row["region"])
        if exp is None:
            problems.append(f"unexpected gold row {key}")
            continue
        for c in GOLD_COLS:
            if not _same(row[c], exp[c]):
                problems.append(f"gold {key} {c}: got {row[c]!r}, want {exp[c]!r}")
    for date, e in expected.items():
        for region in e["gold"]:
            if (date, region) not in seen:
                problems.append(f"missing gold row ({date}, {region})")
    return problems


def check_silver(expected: dict, silver_rows: int) -> list[str]:
    """Silver holds one row per generated video."""
    want = sum(e["videos"] for e in expected.values())
    return [] if silver_rows == want else [f"silver rows {silver_rows} != generated videos {want}"]


def check_channels(expected: dict, channel_ids: list[str]) -> list[str]:
    """The channel dimension holds every distinct generated id once."""
    want = sorted({c for e in expected.values() for c in e["channels"]})
    if sorted(channel_ids) == want:
        return []
    return [
        f"channels: {len(channel_ids)} rows, {len(set(channel_ids))} distinct; "
        f"want {len(want)} distinct ids"
    ]


def check_html(html: str, regions: list[str]) -> list[str]:
    """One table row per region, after the header row."""
    rows = html.count("<tr>") - 1
    missing = [r for r in regions if f"<td>{r}</td>" not in html]
    problems = []
    if rows != len(regions):
        problems.append(f"report has {rows} rows, want {len(regions)}")
    if missing:
        problems.append(f"report misses regions {missing}")
    return problems


def check_query(name: str, spark_pdf, oracle_pdf) -> list[str]:
    from youtube_trending_data_pipeline_spark.parity import compare_frames

    return [f"{name}: {p}" for p in compare_frames(spark_pdf, oracle_pdf)]
