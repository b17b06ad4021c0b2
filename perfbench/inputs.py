"""Seeded benchmark inputs.

Two input families, both a pure function of ``--seed``:

- **Registry tables** (the star schema plus ``events``, ``documents`` and
  ``embeddings``) for the registry-query workloads. Seed 0 reads the
  tables bundled in ``data/sf0.01`` as they are. Any other seed writes a
  copy in which every table's row order is shuffled and every key
  column's values are permuted, consistently across the columns that
  reference that key (see :data:`KEY_DOMAINS`). Table sizes and each
  column's set of values are unchanged, so every foreign key still
  resolves.
- **Airbnb extracts** for ``warehouse_etl``: listings, calendar and
  reviews CSVs plus a day-2 listings snapshot, carrying the dirty cases
  of FIXTURES.md §A (money strings, boolean spellings, negative counts,
  null ids/coordinates/dates, calendar ids missing from listings,
  multiline quoted text).
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BUNDLED_SF = os.path.join(HERE, "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Key domain -> the (table, column) pairs that hold its values. Columns in
# one domain share one permutation: ``events.user_id`` joins
# ``orders.o_custkey`` (q200) and ``embeddings.vec_id`` is read as a
# document id (similarity queries).
KEY_DOMAINS: dict[str, tuple[tuple[str, str], ...]] = {
    "region": (("region", "r_regionkey"), ("nation", "n_regionkey")),
    "nation": (
        ("nation", "n_nationkey"),
        ("customer", "c_nationkey"),
        ("supplier", "s_nationkey"),
    ),
    "customer": (
        ("customer", "c_custkey"),
        ("orders", "o_custkey"),
        ("events", "user_id"),
    ),
    "supplier": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "part": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "order": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "event": (("events", "event_id"),),
    "document": (("documents", "doc_id"), ("embeddings", "vec_id")),
}

# Bump when the generators change, so cached inputs are rebuilt.
GENERATOR_VERSION = "2"


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, *salt.encode()])


def _domain_mapping(
    columns: list[np.ndarray], rng: np.random.Generator
) -> tuple[np.ndarray, np.ndarray]:
    """Permutation of a key domain's values as (sorted old, new) arrays.

    Values are permuted only among values that occur in the same set of
    columns, so each column keeps exactly its set of values (and every
    foreign-key value still names an existing primary key)."""
    values = np.unique(np.concatenate(columns))
    signature = np.zeros(len(values), dtype=np.int64)
    for bit, col in enumerate(columns):
        signature |= np.isin(values, col).astype(np.int64) << bit
    new = values.copy()
    for sig in np.unique(signature):
        idx = np.flatnonzero(signature == sig)
        new[idx] = values[idx][rng.permutation(len(idx))]
    return values, new


def permute_tables(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Shuffle row order and permute key values of ``tables`` by ``seed``."""
    out = dict(tables)
    for domain, cols in KEY_DOMAINS.items():
        arrays = [out[t].column(c).to_numpy() for t, c in cols]
        old, new = _domain_mapping(arrays, _rng(seed, "key:" + domain))
        for (table, col), arr in zip(cols, arrays):
            mapped = new[np.searchsorted(old, arr)]
            t = out[table]
            i = t.schema.get_field_index(col)
            out[table] = t.set_column(i, t.schema.field(i), pa.array(mapped, t.schema.field(i).type))
    for name, t in out.items():
        out[name] = t.take(_rng(seed, "rows:" + name).permutation(t.num_rows))
    return out


def registry_inputs(seed: int, work: str) -> str:
    """Directory of registry tables for ``seed`` (the bundled copy for 0)."""
    if seed == 0:
        return BUNDLED_SF
    dest = os.path.join(work, "registry")
    tables = {t: pq.read_table(os.path.join(BUNDLED_SF, f"{t}.parquet")) for t in TABLES}
    os.makedirs(dest, exist_ok=True)
    for name, t in permute_tables(tables, seed).items():
        pq.write_table(t, os.path.join(dest, f"{name}.parquet"), compression="snappy")
    return dest


# --- Airbnb extracts ------------------------------------------------------

N_LISTINGS = 1600
N_HOSTS = 600
N_DAYS = 45
CAL_START = dt.date(2025, 6, 1)
CAL_FILES = 4
AS_OF = ("2025-06-01 00:00:00", "2025-06-02 00:00:00")

LISTINGS_HEADER = (
    "id", "host_id", "scrape_id", "last_scraped", "host_since", "host_name",
    "host_location", "host_response_time", "host_is_superhost",
    "host_has_profile_pic", "host_identity_verified", "host_listings_count",
    "latitude", "longitude", "name", "description", "property_type",
    "room_type", "accommodates", "price", "bathrooms", "bedrooms", "beds",
    "minimum_nights", "maximum_nights", "has_availability",
    "availability_365", "number_of_reviews", "review_scores_rating",
    "instant_bookable", "first_review", "last_review",
)
CALENDAR_HEADER = (
    "listing_id", "date", "available", "price", "adjusted_price",
    "minimum_nights", "maximum_nights",
)
REVIEWS_HEADER = ("listing_id", "id", "date", "reviewer_id", "reviewer_name", "comments")

_TRUE = ("t", "true", "T", "TRUE", "True")
_FALSE = ("f", "false", "F", "")
_WORDS = (
    "sunny quiet cosy central loft flat studio garden view river old town "
    "bright spacious modern near metro beach park terrace"
).split()
_CITIES = ("Lisbon, PT", "Porto, PT", "Madrid, ES", "Paris, FR", "Berlin, DE")
_PROPS = ("Apartment", "House", "Loft", "Condominium", "Villa")
_ROOMS = ("Entire home/apt", "Private room", "Shared room", "Hotel room")
_RESPONSE = ("within an hour ", " within a day", "a few days or more", "")


def _bool(r: random.Random, truth: bool) -> str:
    return r.choice(_TRUE if truth else _FALSE)


def _money(amount: float) -> str:
    return "${:,.2f}".format(amount)


def _maybe(r: random.Random, p_null: float, value: str) -> str:
    return "" if r.random() < p_null else value


def _text(r: random.Random, n: int, multiline: float) -> str:
    words = [r.choice(_WORDS) for _ in range(n)]
    if r.random() < multiline:
        cut = r.randrange(1, n)
        return " ".join(words[:cut]) + '\n"' + " ".join(words[cut:]) + '", really'
    return " ".join(words)


def _host(r: random.Random, host_id: int) -> dict[str, str]:
    since = dt.date(2012, 1, 1) + dt.timedelta(days=r.randrange(4000))
    return {
        "host_since": _maybe(r, 0.05, since.isoformat()),
        "host_name": _maybe(r, 0.05, f"Host {host_id} {r.choice(_WORDS).title()}"),
        "host_location": _maybe(r, 0.05, r.choice(_CITIES)),
        "host_response_time": r.choice(_RESPONSE),
        "host_is_superhost": _bool(r, r.random() < 0.3),
        "host_has_profile_pic": _bool(r, r.random() < 0.9),
        "host_identity_verified": _bool(r, r.random() < 0.7),
        "host_listings_count": str(r.randrange(-3, 40)),
    }


def _listing(r: random.Random, lid: int, host_id: int | None, coords: list) -> dict[str, str]:
    if r.random() < 0.04:
        lat = lon = ""  # null coordinates
    elif coords and r.random() < 0.1:
        lat, lon = r.choice(coords)  # shared coordinates
    else:
        lat = f"{r.uniform(36.0, 52.0):.6f}"
        lon = f"{r.uniform(-9.5, 13.0):.6f}"
        coords.append((lat, lon))
    first = dt.date(2015, 1, 1) + dt.timedelta(days=r.randrange(3000))
    return {
        "id": str(lid),
        "host_id": "" if host_id is None else str(host_id),
        "scrape_id": "20250601000000",
        "last_scraped": "2025-06-01T00:00:00",
        "latitude": lat,
        "longitude": lon,
        "name": _maybe(r, 0.03, _text(r, 4, 0.1)),
        "description": _text(r, 12, 0.3),
        "property_type": _maybe(r, 0.03, r.choice(_PROPS)),
        "room_type": r.choice(_ROOMS),
        "accommodates": str(r.randrange(-1, 9)),
        "price": _maybe(r, 0.05, _money(r.uniform(20, 1800))),
        "bathrooms": _maybe(r, 0.1, f"{r.randrange(1, 7) / 2:.1f}"),
        "bedrooms": _maybe(r, 0.1, str(r.randrange(-1, 6))),
        "beds": _maybe(r, 0.1, str(r.randrange(0, 8))),
        "minimum_nights": str(r.choice((1, 2, 3, 7, 14, 30, 31, 90))),
        "maximum_nights": str(r.choice((30, 60, 365, 1125))),
        "has_availability": _bool(r, r.random() < 0.9),
        "availability_365": str(r.randrange(0, 366)),
        "number_of_reviews": str(r.randrange(-2, 300)),
        "review_scores_rating": _maybe(r, 0.15, f"{r.uniform(3, 5):.2f}"),
        "instant_bookable": _bool(r, r.random() < 0.4),
        "first_review": _maybe(r, 0.2, first.isoformat()),
        "last_review": _maybe(r, 0.2, (first + dt.timedelta(days=r.randrange(900))).isoformat()),
    }


def _write_csv(path: str, header: tuple[str, ...], rows: list[dict[str, str]]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=header, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
        w.writeheader()
        w.writerows(rows)


def write_etl_extracts(seed: int, dest: str) -> dict[str, object]:
    """Write the four extracts under ``dest``; returns the generator's
    manifest (paths plus the day-2 change counts the checks expect)."""
    r = random.Random(seed)
    os.makedirs(dest, exist_ok=True)
    hosts = {h: _host(r, h) for h in range(1, N_HOSTS + 1)}
    coords: list = []
    day1: list[dict[str, str]] = []
    for lid in range(1, N_LISTINGS + 1):
        host_id = None if r.random() < 0.02 else r.randrange(1, N_HOSTS + 1)
        row = _listing(r, lid, host_id, coords)
        row.update(hosts[host_id] if host_id is not None else _host(r, 0))
        if r.random() < 0.01:
            row["id"] = ""  # null listing id: filtered by the dims
        day1.append(row)

    # day 2: unchanged, changed (listing price/name; whole-host renames)
    # and brand-new keys; nothing is deleted.
    renamed_hosts = set(r.sample(sorted(hosts), N_HOSTS // 20))
    for h in renamed_hosts:
        hosts[h] = dict(hosts[h], host_name=f"Host {h} renamed")
    day2: list[dict[str, str]] = []
    changed_listings = set()
    for row in day1:
        row2 = dict(row)
        if row["host_id"] and int(row["host_id"]) in renamed_hosts:
            row2.update(hosts[int(row["host_id"])])
        if row["id"] and r.random() < 0.1:
            row2["price"] = _money(r.uniform(20, 1800))
            row2["name"] = _text(r, 5, 0.1) + " refreshed"
            changed_listings.add(int(row["id"]))
        day2.append(row2)
    new_hosts = range(N_HOSTS + 1, N_HOSTS + 1 + N_HOSTS // 30)
    for h in new_hosts:
        hosts[h] = _host(r, h)
    n_new = N_LISTINGS // 20
    for lid in range(N_LISTINGS + 1, N_LISTINGS + 1 + n_new):
        host_id = r.choice([*new_hosts, *range(1, N_HOSTS + 1)])
        row = _listing(r, lid, host_id, coords)
        row.update(hosts[host_id])
        day2.append(row)
    r.shuffle(day1)
    r.shuffle(day2)
    paths = {
        "listings": os.path.join(dest, "listings.csv"),
        "listings_day2": os.path.join(dest, "listings_day2.csv"),
        "calendar": os.path.join(dest, "calendar"),
        "reviews": os.path.join(dest, "reviews.csv"),
    }
    _write_csv(paths["listings"], LISTINGS_HEADER, day1)
    _write_csv(paths["listings_day2"], LISTINGS_HEADER, day2)

    # calendar: every listing id plus ids missing from the listings
    cal_ids = [int(x["id"]) for x in day1 if x["id"]] + list(range(90_001, 90_001 + N_LISTINGS // 50))
    parts: list[list[dict[str, str]]] = [[] for _ in range(CAL_FILES)]
    for lid in cal_ids:
        base = r.uniform(20, 900)
        mn = r.choice((1, 3, 7, 8, 21, 30, 31, 60))
        for d in range(N_DAYS):
            price = _maybe(r, 0.05, _money(base * (1.2 if d % 7 in (5, 6) else 1.0)))
            parts[lid % CAL_FILES].append({
                "listing_id": str(lid),
                "date": _maybe(r, 0.005, (CAL_START + dt.timedelta(days=d)).isoformat()),
                "available": r.choice(("t", "f", "t", "", "x")),
                "price": price,
                "adjusted_price": _maybe(r, 0.3, _money(base * 0.95)),
                "minimum_nights": str(mn),
                "maximum_nights": str(r.choice((30, 365, 1125))),
            })
    os.makedirs(paths["calendar"], exist_ok=True)
    for i, rows in enumerate(parts):
        _write_csv(os.path.join(paths["calendar"], f"part-{i:02d}.csv"), CALENDAR_HEADER, rows)

    reviews = []
    for n in range(N_LISTINGS * 3):
        lid = r.choice(cal_ids[: len(cal_ids) - N_LISTINGS // 50])
        reviews.append({
            "listing_id": str(lid),
            "id": str(n + 1),
            "date": _maybe(r, 0.01, (dt.date(2020, 1, 1) + dt.timedelta(days=r.randrange(1900))).isoformat()),
            "reviewer_id": str(r.randrange(1, 50_000)),
            "reviewer_name": r.choice(_WORDS).title(),
            "comments": _text(r, 15, 0.4),
        })
    _write_csv(paths["reviews"], REVIEWS_HEADER, reviews)
    day1_hosts = {int(x["host_id"]) for x in day1 if x["host_id"]}
    return {
        "paths": paths,
        "rows": {
            "listings": len(day1),
            "listings_day2": len(day2),
            "calendar": sum(len(p) for p in parts),
            "reviews": len(reviews),
        },
        "csv_bytes": sum(
            os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(dest) for f in fs
        ),
        "as_of": AS_OF,
        # current versions the day-2 merge must expire
        "expired_hosts": len(renamed_hosts & day1_hosts),
        "expired_listings": len(changed_listings),
    }


def prepare(seed: int, work_root: str, etl: bool) -> dict[str, object]:
    """Generate (or reuse) the inputs for ``seed`` under ``work_root``.

    Inputs for other seeds are removed first, so the work directory holds
    one seed's inputs at a time."""
    tag = f"seed-{seed}-v{GENERATOR_VERSION}-{'etl' if etl else 'registry'}"
    work = os.path.join(work_root, tag)
    manifest_path = os.path.join(work, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return json.load(fh)
    if os.path.isdir(work_root):
        for old in os.listdir(work_root):
            shutil.rmtree(os.path.join(work_root, old), ignore_errors=True)
    manifest: dict[str, object] = {"seed": seed}
    if etl:
        manifest["etl"] = write_etl_extracts(seed, os.path.join(work, "etl"))
    else:
        manifest["sf_dir"] = registry_inputs(seed, work)
    os.makedirs(work, exist_ok=True)
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh)
    return manifest
