"""Seeded generator of one synthetic HLS collection-month.

Writes the offline inputs of the E1/E2 pipelines in the shape of
``tests/fixtures.py``: one CMR ``{"feed": {"entry": [...]}}`` file per
day whose granules each point at one STAC item JSON file. Every granule
carries a ``file://`` stac.json link plus an ``s3://`` twin, every fifth
granule also carries a malformed link entry (no href), and a few granules
per day point at a stac.json file that does not exist (planted dead
links).

Creating tens of thousands of small files costs more than the pipeline
run, so the STAC item files form a seed-independent pool written once
(``ensure_item_pool``); a month draws its granules from the pool. The
seed drives the tile mix (seeded tile weights), the per-day granule
counts and which granules are dead. The same seed and pool give
byte-identical CMR files.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import os

import numpy as np

COLLECTION_CONCEPT_ID = "C2021957657-LPCLOUD"
COLLECTION_ID = "HLSL30_2.0"
YEAR, MONTH = 2025, 9  # a 30-day month

_COL_LETTERS = "ABCDEFGHJKLMNPQRSTUVWXYZ"
_ROW_LETTERS = "ABCDEFGHJKLMNPQRSTUV"
_BANDS = "HJKLMNPQRSTUVW"  # -56..+72 degrees: the HLS land coverage


def month_days() -> list[dt.date]:
    n = calendar.monthrange(YEAR, MONTH)[1]
    return [dt.date(YEAR, MONTH, d) for d in range(1, n + 1)]


def _tile_pool(rng: np.random.Generator, n: int) -> list[tuple[str, float, float]]:
    """n distinct, well-formed MGRS 100 km tiles with an approximate
    center; the column letter follows the zone's 3-zone letter set."""
    tiles: dict[str, tuple[float, float]] = {}
    while len(tiles) < n:
        zone = int(rng.integers(1, 61))
        band_i = int(rng.integers(0, len(_BANDS)))
        col_i = int(rng.integers(1, 7))  # central columns of the zone
        row = _ROW_LETTERS[int(rng.integers(0, len(_ROW_LETTERS)))]
        col = _COL_LETTERS[((zone - 1) % 3) * 8 + col_i]
        tile = f"{zone:02d}{_BANDS[band_i]}{col}{row}"
        lon = zone * 6.0 - 183.0 + (col_i - 3.5) * 0.9
        lat = -56.0 + 8.0 * band_i + 4.0
        tiles[tile] = (round(lon, 4), round(lat, 4))
    return [(k, *v) for k, v in tiles.items()]


def _stac_item(title: str, lon: float, lat: float, day: str, cloud: float) -> str:
    lon0, lat0 = round(lon - 0.5, 4), round(lat - 0.5, 4)
    lon1, lat1 = round(lon0 + 1, 4), round(lat0 + 1, 4)
    ring = [[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1], [lon0, lat0]]
    return json.dumps({
        "type": "Feature",
        "stac_version": "1.0.0",
        "stac_extensions": [],
        "id": title,
        "geometry": {"type": "Polygon", "coordinates": [ring]},
        "bbox": [lon0, lat0, lon1, lat1],
        "properties": {
            "datetime": f"{day}T17:04:39Z",
            "start_datetime": f"{day}T17:04:39Z",
            "end_datetime": f"{day}T17:05:03Z",
            "eo:cloud_cover": cloud,
        },
        "assets": {
            b: {"href": f"s3://bucket/{title}/{b}.tif", "type": "image/tiff",
                "title": b, "roles": ["data"]}
            for b in ("B01", "B02", "Fmask")
        },
        "links": [{"rel": "self", "href": f"https://cmr/{title}"}],
    })


POOL_SEED = 0
POOL_TILES = 400


def _pool_day(pool_dir: str, day_idx: int, day: dt.date, tiles: list,
              per_day: int) -> list[tuple[str, str, int]]:
    """Write one day of pool items; return ``(title, path, tile index)``."""
    rng = np.random.default_rng([POOL_SEED, day_idx])
    iso, jday = day.isoformat(), day.strftime("%Y%j")
    stac_dir = os.path.join(pool_dir, iso)
    os.makedirs(stac_dir, exist_ok=True)
    tile_idx = rng.integers(0, len(tiles), per_day)
    clouds = rng.integers(0, 100, per_day)
    out = []
    for i in range(per_day):
        tile, lon, lat = tiles[tile_idx[i]]
        hms = f"{i // 3600 % 24:02d}{i // 60 % 60:02d}{i % 60:02d}"
        title = f"HLS.L30.T{tile}.{jday}T{hms}.v2.0"
        path = os.path.join(stac_dir, f"{title}_stac.json")
        with open(path, "w") as f:
            f.write(_stac_item(title, lon, lat, iso, float(clouds[i])))
        out.append((title, path, int(tile_idx[i])))
    return out


def ensure_item_pool(root: str, per_day: int) -> str:
    """Write ``per_day`` STAC item files for each day of the month under
    ``root`` once (a ``_DONE`` marker guards half-written pools) and
    return the pool directory, whose ``index.json`` lists the items."""
    pool_dir = os.path.abspath(os.path.join(root, f"stac-pool-{per_day}"))
    if os.path.exists(os.path.join(pool_dir, "_DONE")):
        return pool_dir
    os.makedirs(pool_dir, exist_ok=True)
    tiles = _tile_pool(np.random.default_rng(POOL_SEED), POOL_TILES)
    args = [(pool_dir, i, d, tiles, per_day) for i, d in enumerate(month_days())]
    days = [_pool_day(*a) for a in args]
    with open(os.path.join(pool_dir, "index.json"), "w") as f:
        json.dump({"tiles": tiles, "days": days}, f)
    open(os.path.join(pool_dir, "_DONE"), "w").close()
    return pool_dir


def _cmr_entry(title: str, href: str, i: int, iso: str, cloud: int) -> dict:
    links = [
        {"rel": "http://esipfed.org/ns/fedsearch/1.1/data#",
         "title": "Download", "hreflang": "en-US",
         "href": f"s3://lp-prod-public/{title}/{title}_stac.json"},
        {"rel": "http://esipfed.org/ns/fedsearch/1.1/metadata#",
         "title": "STAC JSON", "hreflang": "en-US", "href": href},
    ]
    if i % 5 == 4:
        links.insert(0, {"rel": "broken"})  # malformed: no href
    hms = title.rsplit(".", 2)[0][-6:]  # "...T{hhmmss}.v2.0"
    ts = f"{iso}T{hms[:2]}:{hms[2:4]}:{hms[4:]}"
    return {
        "id": f"G{3789984495 + i}-LPCLOUD",
        "producer_granule_id": title[:-5],
        "title": title,
        "collection_concept_id": COLLECTION_CONCEPT_ID,
        "dataset_id": "HLS Landsat Operational Land Imager",
        "data_center": "LPCLOUD",
        "time_start": f"{ts}.000Z",
        "time_end": f"{ts}.999Z",
        "updated": f"{ts}.000Z",
        "cloud_cover": str(cloud),
        "day_night_flag": "DAY",
        "coordinate_system": "GEODETIC",
        "browse_flag": True,
        "online_access_flag": True,
        "original_format": "ECHO10",
        "links": links,
    }


def generate_month(base_dir: str, seed: int, granules_per_day: int,
                   pool_dir: str) -> dict:
    """Write one collection-month's CMR files under ``base_dir``, drawing
    granules from the item pool; return its counts.

    Per-day granule counts vary by about ±10 % around
    ``granules_per_day`` (at most the pool's size); the tile mix follows
    seeded tile weights; each day plants 1–3 dead links.
    """
    with open(os.path.join(pool_dir, "index.json")) as f:
        index = json.load(f)
    cmr_dir = os.path.join(os.path.abspath(base_dir), "cmr")
    os.makedirs(cmr_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tile_w = rng.permutation(1.0 / np.arange(1, len(index["tiles"]) + 1) ** 0.8)
    totals = {"granules": 0, "dead": 0, "malformed": 0, "per_day": {}}
    for day_idx, (day, items) in enumerate(zip(month_days(), index["days"])):
        iso = day.isoformat()
        day_rng = np.random.default_rng([seed, day_idx])
        n = min(len(items), int(round(granules_per_day * day_rng.uniform(0.9, 1.1))))
        p = tile_w[[t for _, _, t in items]]
        chosen = np.sort(day_rng.choice(len(items), size=n, replace=False, p=p / p.sum()))
        dead = set(day_rng.choice(n, size=int(day_rng.integers(1, 4)), replace=False).tolist())
        clouds = day_rng.integers(0, 100, n)
        entries = []
        for i, k in enumerate(chosen):
            title, path, _ = items[k]
            if i in dead:
                path = path[: -len("_stac.json")] + "_missing_stac.json"
            entries.append(_cmr_entry(title, f"file://{path}", i, iso, int(clouds[i])))
        with open(os.path.join(cmr_dir, f"{iso}.json"), "w") as f:
            json.dump({"feed": {"entry": entries}}, f)
        totals["granules"] += n
        totals["dead"] += len(dead)
        totals["malformed"] += len(range(4, n, 5))
        totals["per_day"][iso] = n
    totals["items"] = totals["granules"] - totals["dead"]
    totals["cmr_dir"] = cmr_dir
    return totals
