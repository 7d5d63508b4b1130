"""Seeded benchmark inputs, generated without Spark and cached on disk.

The program's own generators (``sources.pages``, ``sources.corpus``) fix
their seed, so the benchmark makes its inputs here from ``--seed`` with
numpy + pyarrow, in the same shapes. Each input directory also holds the
expected outputs (``expected.json``), derived independently of the code
under test: integer lon/lat arithmetic for the spatial workloads, the
registry's DuckDB oracle SQL for the corpus queries. The program only ever
sees the parquet files.

Cache key: workload, rows, seed and a hash of the generating code (this
file plus ``gdal_spark/queries.py``, whose oracle SQL feeds
``expected.json``), so two versions of the program never share stale
inputs or answers.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
KEEP_PER_KIND = 10

# --- pages (flagship_pages, pip_polygons) ----------------------------------

LANGS = ["en", "de", "fr", "es", "pt"]
CITIES_E6 = [(-73_985_000, 40_748_000), (2_352_000, 48_857_000),
             (139_692_000, 35_690_000)]
CITY_SPREAD_E6 = 250_000
SKEW_PCT = 70
TS0 = 1_767_225_600  # 2026-01-01T00:00:00Z, divisible by 8
ROW_GROUP = 16_384  # several row groups per file, so every core gets splits
PAGES_ROWS = 500_000
FILES = 4  # pip_polygons reads only the first file

# flagship: the 36 x 17 admin grid over [-180, 180] x [-85, 85]
GRID_NX, GRID_NY, GRID_STEP_E6 = 36, 17, 10_000_000
TILE_ZOOM = 8

# pip_polygons: concave diamond grid, axis-aligned in uv = (x + y, y - x),
# centred on lon -36 so it holds two of the three cities. Every vertex stays
# inside the Web-Mercator latitude domain (|y| <= 85), which the shuffle
# path's tile cell keys require.
DIAMOND_N = 40
DIAMOND_U = (-121.0, 49.0)
DIAMOND_V = (-49.0, 121.0)
SHUFFLE_EVERY = 8  # shuffle leg runs on pages whose row id % 8 == 0


def host_coords(rng: np.random.Generator, n_hosts: int):
    """Integer-microdegree (lon, lat) per host: 70% in three city clusters,
    the rest uniform. lon + lat is forced odd, so no point ever lies on a
    diamond-grid edge (all edges sit at even microdegree sums)."""
    pick = rng.integers(0, 100, n_hosts)
    city = rng.integers(0, len(CITIES_E6), n_hosts)
    clon = np.array([c[0] for c in CITIES_E6])[city]
    clat = np.array([c[1] for c in CITIES_E6])[city]
    jl = rng.integers(-CITY_SPREAD_E6, CITY_SPREAD_E6, n_hosts)
    jt = rng.integers(-CITY_SPREAD_E6, CITY_SPREAD_E6, n_hosts)
    ulon = rng.integers(-179_500_000, 179_500_000, n_hosts)
    ulat = rng.integers(-84_000_000, 84_000_000, n_hosts)
    lon = np.where(pick < SKEW_PCT, clon + jl, ulon).astype(np.int64)
    lat = np.where(pick < SKEW_PCT, clat + jt, ulat).astype(np.int64)
    lat = lat + ((lon + lat + 1) % 2)
    return lon, lat


def _str(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def pages_table(ids: np.ndarray, n_hosts: int, lon_h: np.ndarray,
                lat_h: np.ndarray) -> pa.Table:
    """Rows ``ids`` of the pages table (url, warc_ts, html, text, lang), the
    shape of ``sources.pages.pages``: text embeds the host's coordinates and
    is a pure function of the host."""
    h = ids % n_hosts
    host = pc.binary_join_element_wise(
        "h", pc.utf8_lpad(_str(h), 6, "0"), "")
    lon = _str(lon_h[h])
    lat = _str(lat_h[h])
    url = pc.binary_join_element_wise(
        "https://", host, ".example/p/", _str(ids), "")
    text = pc.binary_join_element_wise(
        "site ", host, " crawl page geo_e6: ", lon, ",", lat,
        " lang tail words alpha beta gamma", "")
    html = pc.binary_join_element_wise(
        "<html><head><title>", host, "</title></head><body><p>", text,
        "</p></body></html>", "")
    ts = pa.array((TS0 + ids) * 1_000_000, type=pa.timestamp("us", tz="UTC"))
    lang = pa.array(np.array(LANGS, dtype=object)[ids % len(LANGS)],
                    type=pa.string())
    return pa.table({"url": url, "warc_ts": ts,
                     "html": pc.cast(html, pa.binary()), "text": text,
                     "lang": lang})


def write_pages(out: str, n_rows: int, seed: int) -> tuple:
    n_hosts = max(1, n_rows // 4)
    rng = np.random.default_rng([seed, 1])
    lon_h, lat_h = host_coords(rng, n_hosts)
    path = os.path.join(out, "pages")
    os.makedirs(path)
    per = -(-n_rows // FILES)
    for f in range(FILES):
        ids = np.arange(f * per, min(n_rows, (f + 1) * per), dtype=np.int64)
        if len(ids):
            pq.write_table(pages_table(ids, n_hosts, lon_h, lat_h),
                           os.path.join(path, f"part-{f:05d}.parquet"),
                           row_group_size=ROW_GROUP)
    return n_hosts, lon_h, lat_h


def _tile(m: np.ndarray) -> np.ndarray:
    """``functions.tiles`` pixels_to_tile, evaluated in the same IEEE order."""
    shift = 2 * math.pi * 6378137.0 / 2.0
    res = 2 * math.pi * 6378137.0 / 256 / (2 ** TILE_ZOOM)
    return (np.ceil((m + shift) / res / 256.0) - 1).astype(np.int64)


def flagship_expected(lon_h: np.ndarray, lat_h: np.ndarray) -> dict:
    """Per (cell_id, tx, ty) count of distinct texts (one per host), from
    integer bbox arithmetic on the admin grid and Web-Mercator z8 tiles."""
    shift = 2 * math.pi * 6378137.0 / 2.0
    cx = (lon_h + 180_000_000) // GRID_STEP_E6
    cy = (lat_h + 85_000_000) // GRID_STEP_E6
    ok = (cx >= 0) & (cx < GRID_NX) & (cy >= 0) & (cy < GRID_NY)
    lon = lon_h[ok] / 1e6
    lat = lat_h[ok] / 1e6
    tx = _tile(lon * (shift / 180.0))
    my = (np.log(np.tan((90.0 + lat) * (math.pi / 360.0)))
          / (math.pi / 180.0) * (shift / 180.0))
    ty = _tile(my)
    cell = cy[ok] * GRID_NX + cx[ok]
    keys, n = np.unique(np.stack([cell, tx, ty]), axis=1, return_counts=True)
    return {f"{c},{x},{y}": int(k) for (c, x, y), k in zip(keys.T, n)}


def diamond_cells(lon_e6: np.ndarray, lat_e6: np.ndarray) -> np.ndarray:
    """Concave diamond-grid cell per point by uv-frame integer arithmetic;
    -1 where the point falls in a cell's cut-out quadrant."""
    step = round((DIAMOND_U[1] - DIAMOND_U[0]) / DIAMOND_N * 1e6)
    i, ru = np.divmod(lon_e6 + lat_e6 - round(DIAMOND_U[0] * 1e6), step)
    j, rv = np.divmod(lat_e6 - lon_e6 - round(DIAMOND_V[0] * 1e6), step)
    out = (i < 0) | (i >= DIAMOND_N) | (j < 0) | (j >= DIAMOND_N)
    cut = (2 * ru > step) & (2 * rv > step)
    return np.where(out | cut, -1, j * DIAMOND_N + i)


def pip_expected(n_rows: int, n_hosts: int, lon_h: np.ndarray,
                 lat_h: np.ndarray) -> dict:
    """Per-cell point counts on the first pages file: every point for the
    broadcast leg, every 8th page (unmatched ones as "null") for the
    shuffle leg."""
    ids = np.arange(-(-n_rows // FILES), dtype=np.int64)
    h = ids % n_hosts
    cell = diamond_cells(lon_h[h], lat_h[h])
    b_keys, b_n = np.unique(cell[cell >= 0], return_counts=True)
    sub = cell[ids % SHUFFLE_EVERY == 0]
    s_keys, s_n = np.unique(sub, return_counts=True)
    return {"broadcast": {str(k): int(n) for k, n in zip(b_keys, b_n)},
            "shuffle": {("null" if k < 0 else str(k)): int(n)
                        for k, n in zip(s_keys, s_n)}}


# --- corpus (corpus_dedup) --------------------------------------------------

VOCAB = [
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "vector", "query", "agg",
    "table", "join", "shuffle", "cache", "page", "index", "merge", "read",
    "write", "block", "row", "key", "group", "filter", "map", "reduce",
    "plan", "cost", "skew", "salt", "broad", "cast", "tile", "cell",
    "zoom", "pixel", "band", "warp", "grid", "point", "ring", "layer",
]
CORPUS_QUERIES = ["span_dedup", "dedup_cluster", "knn_k3", "warp_bilinear"]


def write_corpus(out: str, n_docs: int, seed: int) -> None:
    """documents table shaped like ``sources.corpus.documents``: ~70%
    originals (30-150 words), ~10% exact duplicates and ~20% near duplicates
    (1 in 12 words replaced) of an earlier document."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB, dtype=object)
    lens = rng.integers(30, 151, n_docs)
    words = [rng.integers(0, len(VOCAB), n) for n in lens]
    role = rng.integers(0, 10, n_docs)
    role[:16] = 0
    texts = []
    for d in range(n_docs):
        if role[d] < 7:
            toks = words[d]
        else:
            toks = words[int(rng.integers(0, d))]
            if role[d] >= 8:
                toks = toks.copy()
                mut = rng.integers(0, 12, len(toks)) == 0
                toks[mut] = rng.integers(0, len(VOCAB), int(mut.sum()))
        texts.append(" ".join(vocab[toks]))
    text = pa.array(texts, type=pa.string())
    ids = np.arange(n_docs, dtype=np.int64)
    table = pa.table({
        "doc_id": ids,
        "text": text,
        "lang": pa.array(np.array(LANGS, dtype=object)[
            rng.integers(0, len(LANGS), n_docs)], type=pa.string()),
        "source": pa.array(np.array(["crawl", "news", "wiki", "forum"],
                                    dtype=object)[
            rng.integers(0, 4, n_docs)], type=pa.string()),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    })
    os.makedirs(os.path.join(out, "documents.parquet"))
    pq.write_table(table, os.path.join(out, "documents.parquet",
                                       "part-00000.parquet"),
                   row_group_size=max(1, n_docs // 4))


def normalize(rows) -> list:
    """Order-insensitive row form: floats to 9 places, bytes as hex."""
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(round(v, 9))
            elif isinstance(v, (bytes, bytearray)):
                vals.append(bytes(v).hex())
            else:
                vals.append(v)
        out.append(vals)
    out.sort(key=repr)
    return out


def _components(n_docs: int, pairs) -> list:
    """Union-find over the near-dup pairs: (id, min id of its component)."""
    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(d, find(d)) for d in range(n_docs)]


def corpus_expected(out: str, n_docs: int) -> dict:
    """Each corpus query's rows, columns sorted by name, from the registry's
    DuckDB oracle SQL. ``dedup_cluster``'s own oracle is a recursive CTE
    too slow at this size, so its clusters come from union-find over the
    ``minhash_lsh_jaccard`` oracle's pairs (the same edges the query
    clusters)."""
    import duckdb

    from gdal_spark import queries as Q

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{out}/documents.parquet/*.parquet')")
    expected = {}
    for name in CORPUS_QUERIES:
        if name == "dedup_cluster":
            pairs = con.execute(
                f"SELECT id_a, id_b FROM ({Q.QUERIES['minhash_lsh_jaccard'][1]})"
            ).fetchall()
            expected[name] = {"columns": ["component", "id"],
                              "rows": normalize(
                                  (c, d) for d, c in _components(n_docs, pairs))}
            continue
        res = con.execute(Q.QUERIES[name][1])
        cols = [d[0] for d in res.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        expected[name] = {"columns": [cols[i] for i in order],
                          "rows": normalize(tuple(r[i] for i in order)
                                            for r in res.fetchall())}
    con.close()
    return expected


# --- cache ------------------------------------------------------------------

def code_hash() -> str:
    h = hashlib.sha256()
    for path in (os.path.abspath(__file__),
                 os.path.join(ROOT, "gdal_spark", "queries.py")):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _generate(out: str, kind: str, rows: int, seed: int) -> dict:
    if kind == "pages":
        n_hosts, lon_h, lat_h = write_pages(out, rows, seed)
        return {"flagship": flagship_expected(lon_h, lat_h),
                "pip": pip_expected(rows, n_hosts, lon_h, lat_h)}
    if kind == "corpus":
        write_corpus(out, rows, seed)
        return corpus_expected(out, rows)
    raise ValueError(kind)


def ensure(cache_dir: str, kind: str, rows: int, seed: int):
    """Return (input dir, expected outputs, seconds spent generating).
    Seconds are 0.0 when the input was already cached."""
    key = f"{kind}-r{rows}-s{seed}-{code_hash()}"
    out = os.path.join(cache_dir, key)
    done = os.path.join(out, "expected.json")
    gen_s = 0.0
    if not os.path.exists(done):
        t0 = time.perf_counter()
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        expected = _generate(tmp, kind, rows, seed)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(expected, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        gen_s = time.perf_counter() - t0
        _evict(cache_dir, kind, keep=out)
    os.utime(out)
    with open(done) as f:
        return out, json.load(f), gen_s


def _evict(cache_dir: str, kind: str, keep: str) -> None:
    mine = [os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
            if d.startswith(kind + "-") and ".tmp" not in d]
    mine.sort(key=os.path.getmtime, reverse=True)
    for d in mine[KEEP_PER_KIND:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
