"""Seeded generator of bronze day-files shaped like the reference's.

One day-file is a JSON object mapping region code -> a YouTube
``videoListResponse`` (FIXTURES.md section 1): about 10% of items miss
their like/comment counts, about 30% miss tags and defaultLanguage, a few
carry ``regionRestriction``, and ``categoryId`` is a numeric string.
Channel ids come mostly from a skewed pool, so later days re-see most
channels the way trending channels do, plus a few never-seen ones every
day, so every day's ingestion has new channels to fetch. This channel mix
(pool size, Zipf exponent, never-seen share, one forced new channel per
region and day) is assumed, not fitted to data: see ``NOTES.md``.

The same seed and shape always give byte-identical files.
:func:`ensure_days` caches them per (shape, seed) so that generation stays
outside every timed region, and stores beside them the expectations the
correctness gates need (see ``gates.py``), recomputed in pure Python from
the generated items.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
from dataclasses import dataclass

from gates import expected_from_rows

CATEGORIES = ["1", "2", "10", "15", "17", "20", "22", "23", "24", "25", "26", "27", "28"]
CATEGORY_WEIGHTS = [3, 1, 9, 2, 6, 5, 8, 1, 9, 4, 3, 2, 4]
LANGS = ["en", "ar", "de", "fr", "es", "hi"]
NEW_CHANNEL_SHARE = 0.05
_ID_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"


@dataclass(frozen=True)
class Shape:
    """How much bronze one generated set holds."""

    regions: tuple[str, ...]
    items_per_region: int
    days: int
    channel_pool: int
    start: dt.date = dt.date(2025, 10, 1)

    @property
    def tag(self) -> str:
        return (
            f"r{len(self.regions)}-i{self.items_per_region}-d{self.days}"
            f"-c{self.channel_pool}-{self.start.isoformat()}"
        )

    def dates(self) -> list[dt.date]:
        return [self.start + dt.timedelta(days=k) for k in range(self.days)]


# region codes a regionRestriction may block
_BLOCKABLE = ('QA', 'US', 'DE', 'AA', 'AB', 'AC', 'AD', 'AE', 'AF', 'AG', 'AH', 'AI')


def _duration(rng: random.Random) -> str:
    form = rng.random()
    if form < 0.15:
        return f"PT{rng.randint(5, 59)}S"
    if form < 0.80:
        return f"PT{rng.randint(1, 59)}M{rng.randint(0, 59)}S"
    if form < 0.98:
        return f"PT{rng.randint(1, 3)}H{rng.randint(0, 59)}M{rng.randint(0, 59)}S"
    return f"P{rng.randint(1, 2)}DT{rng.randint(0, 23)}H{rng.randint(0, 59)}M"


def _item(rng: random.Random, day: dt.date, region: str, channel: str) -> dict:
    vid = "".join(rng.choices(_ID_CHARS, k=11))
    published = dt.datetime.combine(day, dt.time()) - dt.timedelta(
        seconds=rng.randint(3600, 14 * 86400)
    )
    title = f"trending {region} {vid}"
    snippet = {
        "publishedAt": published.strftime("%Y-%m-%dT%H:%M:%SZ"),
        "channelId": channel,
        "title": title,
        "description": f"description of {vid}",
        "channelTitle": f"channel {channel}",
        "categoryId": rng.choices(CATEGORIES, CATEGORY_WEIGHTS)[0],
        "liveBroadcastContent": "none",
        "localized": {"title": title, "description": f"description of {vid}"},
        "thumbnails": {
            size: {"url": f"https://i.ytimg.invalid/vi/{vid}/{size}.jpg", "width": w, "height": h}
            for size, w, h in (("default", 120, 90), ("medium", 320, 180), ("high", 480, 360))
        },
    }
    if rng.random() >= 0.3:
        snippet["tags"] = [f"tag{rng.randint(0, 500)}" for _ in range(rng.randint(1, 6))]
        snippet["defaultLanguage"] = rng.choice(LANGS)
        snippet["defaultAudioLanguage"] = snippet["defaultLanguage"]
    details = {
        "duration": _duration(rng),
        "dimension": "2d",
        "definition": rng.choice(["hd", "sd"]),
        "caption": rng.choice(["true", "false"]),
        "licensedContent": rng.random() < 0.7,
        "projection": "rectangular",
        "contentRating": {},
    }
    if rng.random() < 0.05:
        details["regionRestriction"] = {"blocked": rng.sample(_BLOCKABLE, 2)}
    views = int(rng.lognormvariate(11.0, 1.6))
    stats = {"viewCount": str(views), "favoriteCount": "0"}
    if rng.random() >= 0.1:
        likes = int(views * rng.uniform(0.005, 0.08))
        stats["likeCount"] = str(likes)
        stats["commentCount"] = str(int(likes * rng.uniform(0.01, 0.2)))
    return {
        "kind": "youtube#video",
        "etag": f"etag-{vid}",
        "id": vid,
        "snippet": snippet,
        "contentDetails": details,
        "statistics": stats,
    }


def generate_day(seed: int, shape: Shape, day: dt.date) -> dict:
    """One day-file object; depends only on (seed, shape, day)."""
    rng = random.Random(f"{seed}:{shape.tag}:{day.isoformat()}")
    pool = [f"UC{seed:04d}{k:06d}" for k in range(shape.channel_pool)]
    # Zipf-like popularity: a few channels trend every day
    weights = [1.0 / (k + 1) ** 1.1 for k in range(shape.channel_pool)]
    out = {}
    for region in shape.regions:
        channels = rng.choices(pool, weights, k=shape.items_per_region)
        # a trickle of never-seen channels every day, at least one per region
        for i in range(shape.items_per_region):
            if i == 0 or rng.random() < NEW_CHANNEL_SHARE:
                channels[i] = f"UC{seed:04d}{day:%Y%m%d}{region}{i:04d}"
        out[region] = {
            "kind": "youtube#videoListResponse",
            "etag": f"etag-{region}-{day.isoformat()}",
            "nextPageToken": "CAUQAA",
            "pageInfo": {"totalResults": 200, "resultsPerPage": shape.items_per_region},
            "items": [_item(rng, day, region, ch) for ch in channels],
        }
    return out


def silver_rows(day_obj: dict) -> list[dict]:
    """The fields the gates need, per video, read straight from the JSON."""
    rows = []
    for region, resp in day_obj.items():
        for it in resp["items"]:
            st = it["statistics"]
            rows.append(
                {
                    "region": region,
                    "channel_id": it["snippet"]["channelId"],
                    "category_id": it["snippet"]["categoryId"],
                    "views": int(st.get("viewCount", 0)),
                    "likes": int(st.get("likeCount", 0)),
                    "comments": int(st.get("commentCount", 0)),
                }
            )
    return rows


def ensure_days(cache_root: str, seed: int, shape: Shape) -> str:
    """Directory holding ``days/YYYY-MM-DD.json`` and ``expected.json``.

    Generated once per (shape, seed); a finished directory is reused as
    is. Files are written to a temporary sibling and renamed into place,
    so an interrupted generation never leaves a half-written set behind.
    """
    final = os.path.join(cache_root, f"bronze-{shape.tag}-s{seed}")
    if os.path.exists(os.path.join(final, "expected.json")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "days"))
    expected = {}
    for day in shape.dates():
        obj = generate_day(seed, shape, day)
        with open(os.path.join(tmp, "days", f"{day.isoformat()}.json"), "w") as fh:
            json.dump(obj, fh, separators=(",", ":"))
        expected[day.isoformat()] = expected_from_rows(silver_rows(obj))
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(expected, fh, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final
