"""Seeded inputs for the benchmark workloads.

- The query tables are the oracle tables at scale factor 0.1 that the
  repository's tests and ``bench.py`` run on, kept byte for byte in
  ``data/sf0.1`` (the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings``; see ``FIXTURES.md`` section 2). A
  run reads a seeded row permutation of them: the same rows, so every
  join size, dedup selectivity and worker load is the real one, in an
  order that changes with the seed.
- The medallion landing zone is airports-shaped JSON lines (the
  reference job's input, ``FIXTURES.md`` section 1), split over several
  files. The repository holds no such fixture, so it is drawn from a
  generator seeded by ``--seed``.

The same seed gives byte-identical files; another seed gives other ones.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def write_tables(out_dir: str, seed: int, names=TABLES) -> dict[str, int]:
    """Write a seeded row permutation of each table in ``names`` as
    ``{out_dir}/{name}.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in names:
        tbl = pq.read_table(os.path.join(TABLE_DIR, f"{name}.parquet"))
        rng = np.random.default_rng([seed, TABLES.index(name)])
        order = rng.permutation(tbl.num_rows)
        pq.write_table(tbl.take(order), os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(
        pa.string()
    )


NAME_WORDS = (
    "bay big cedar clear deer eagle fox glen green hill lake mill oak pine "
    "red river rock sand spring stone"
).split()

AIRPORT_TYPES = [
    "small_airport",
    "heliport",
    "closed",
    "medium_airport",
    "seaplane_base",
    "large_airport",
    "balloonport",
]
AIRPORT_TYPE_P = [0.52, 0.2, 0.1, 0.09, 0.05, 0.03, 0.01]
CONTINENTS = ["NA", "SA", "EU", "AF", "AS", "OC", "AN"]
COUNTRIES = ["US", "BR", "CA", "AU", "MX", "RU", "FR", "DE", "GB", "AR", "JP", "CN"]


def _airports(rng: np.random.Generator, start: int, n: int) -> pa.Table:
    k = np.arange(start, start + n)
    country = rng.integers(0, len(COUNTRIES), n)
    region = rng.integers(1, 60, n)
    elev = rng.integers(-200, 14000, n)
    lon = np.round(rng.uniform(-180.0, 180.0, n), 6)
    lat = np.round(rng.uniform(-90.0, 90.0, n), 6)
    name_w = rng.integers(0, len(NAME_WORDS), (n, 2))
    words = [w.title() for w in NAME_WORDS]
    cc = [COUNTRIES[c] for c in country]
    return pa.table(
        {
            "ident": [f"X{i:07d}" for i in k],
            "type": _pick(rng, AIRPORT_TYPES, n, AIRPORT_TYPE_P),
            "name": [
                f"{words[a]} {words[b]} Field {i}" for (a, b), i in zip(name_w, k)
            ],
            "elevation_ft": pa.array(elev, mask=rng.random(n) >= 0.85),
            "continent": [CONTINENTS[c % len(CONTINENTS)] for c in country],
            "iso_country": cc,
            "iso_region": [f"{c}-{r:02d}" for c, r in zip(cc, region)],
            "municipality": pa.array(
                [f"Town {r}" for r in region], mask=rng.random(n) >= 0.9
            ),
            "gps_code": [f"G{i % 100000:05d}" for i in k],
            "iata_code": pa.array(
                [f"{i % 17576:04d}" for i in k], mask=rng.random(n) >= 0.15
            ),
            "local_code": [f"L{i % 9999}" for i in k],
            "coordinates": [f"{a}, {b}" for a, b in zip(lon, lat)],
        }
    )


def write_landing(out_dir: str, seed: int, rows: int, files: int) -> list[str]:
    """Airports-shaped JSON lines over ``files`` files; return their paths."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    per = -(-rows // files)
    paths = []
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        for f in range(files):
            start = f * per
            part = _airports(rng, start, min(per, rows - start))  # noqa: F841
            path = os.path.join(out_dir, f"airports-{f:02d}.json")
            con.execute(f"COPY (SELECT * FROM part) TO '{path}' (FORMAT JSON)")
            paths.append(path)
    finally:
        con.close()
    return paths
