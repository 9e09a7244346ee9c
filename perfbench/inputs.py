"""Seeded input generation for the three workloads.

Everything here is numpy/pandas only: the engine never sees these
objects directly, only the DataFrames the runner builds from them.
The key ranges reproduce the sf0.1 base tables the engine's derived
views read (orders 150,000 keys, supplier 1,000, nation 25), so the
point, landmark and polygon columns follow the formulas of
``vtshaver_spark.sources.views`` without reading any parquet file.

A seed moves tile placement, feature ids, batch membership and the
document salt tokens; row counts do not depend on it, and byte sizes
move by well under 1%.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# -- sizes (fixed per workload: every request has the same shape) ----------

TILE_BATCHES = 1  # one batch keeps the slowest set-up of the three short
TILES_PER_BATCH = 900
FEATURES_PER_TILE = 44
POINT_BATCHES = 2
ORDERS = 150_000  # sf0.1 orders keys -> images
SUPPLIERS = 1_000  # sf0.1 supplier keys -> landmarks
NATIONS = 25  # sf0.1 nation keys -> polygons
DOC_BATCHES = 2
BASE_DOCS = 1_250
DOC_REPLICAS = 8  # replicas 0-3 near-duplicates, 4-7 salted

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input, so resizing one input never
    # shifts the draws of another
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt])


# -- tile_shave -------------------------------------------------------------


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _varints(vals) -> bytes:
    out = bytearray()
    for v in vals:
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def _geometry(geom_type: str, n_vertices: int, coords: list) -> bytes:
    """An MVT command stream (spec 4.3): MoveTo, LineTo run, ClosePath.
    ``coords`` holds a start point then relative moves."""
    if geom_type == "Unknown":
        return b""
    x0, y0 = coords[0]
    cmds = [9, _zigzag(x0), _zigzag(y0)]  # MoveTo x1
    if geom_type == "Point":
        return _varints(cmds)
    n_line = 3 if geom_type == "Polygon" else n_vertices - 1
    cmds.append((n_line << 3) | 2)  # LineTo x n_line
    for dx, dy in coords[1 : 1 + n_line]:
        cmds += [_zigzag(dx), _zigzag(dy)]
    if geom_type == "Polygon":
        cmds.append(15)  # ClosePath x1
    return _varints(cmds)


def feature_rows(seed: int) -> pd.DataFrame:
    """MVT-model feature rows (``features_v`` attribute rules), placed
    on distinct z16 tiles and split into ``TILE_BATCHES`` batches."""
    rng = _rng(seed, "tiles")
    n_tiles = TILE_BATCHES * TILES_PER_BATCH
    cells = rng.choice(1024 * 1024, size=n_tiles, replace=False)
    tile_x = 10_000 + cells // 1024
    tile_y = 25_000 + cells % 1024
    batch_of_tile = rng.permutation(n_tiles) % TILE_BATCHES
    n = n_tiles * FEATURES_PER_TILE
    fid = rng.permutation(n).astype(np.int64) + 1
    tile = np.repeat(np.arange(n_tiles), FEATURES_PER_TILE)

    layer = np.select(
        [fid % 13 == 0, np.isin(fid % 8, (0, 1)), np.isin(fid % 8, (2, 3)),
         fid % 8 == 4, fid % 8 == 5, fid % 8 == 6],
        ["road_label", "road", "poi_label", "landuse", "building",
         "housenum_label"],
        "water",
    )
    geom_type = np.select(
        [fid % 31 == 0, np.isin(layer, ("poi_label", "housenum_label")),
         np.isin(layer, ("road", "road_label")) & (fid % 9 == 0),
         np.isin(layer, ("road", "road_label"))],
        ["Unknown", "Point", "Polygon", "LineString"],
        "Polygon",
    )
    is_road = layer == "road"
    props_cols = {
        "maki": np.where(
            layer == "poi_label",
            np.array(["cafe", "toilet", "restaurant", "park", "bank", "museum",
                      "school"])[fid % 7], None),
        "class": np.where(
            is_road,
            np.array(["path", "track", "secondary_link", "service", "primary",
                      "street"])[fid % 6],
            np.where(layer == "landuse",
                     np.array(["park", "school", "wood", "cemetery",
                               "grass"])[fid % 5], None)),
        "structure": np.where(
            is_road, np.array(["none", "ford", "bridge", "tunnel"])[fid % 4], None),
        "filterrank": np.where(layer == "poi_label", (fid % 8).astype(str), None),
        "oneway": np.where(np.isin(layer, ("road", "road_label")),
                           np.where(fid % 3 == 0, "true", "false"), None),
        "type": np.where(
            layer == "building",
            np.array(["building:part", "building", "house"])[fid % 3],
            np.where(is_road, "road", None)),
        "underground": np.where(layer == "building",
                                np.where(fid % 2 == 0, "true", "false"), None),
    }
    names = list(props_cols)
    props = [
        {k: v for k, v in zip(names, row) if v is not None}
        for row in zip(*(props_cols[k].tolist() for k in names))
    ]
    coords = np.concatenate(
        [rng.integers(0, 4096, size=(n, 1, 2)),
         rng.integers(-200, 201, size=(n, 4, 2))], axis=1
    ).tolist()
    geometry = [
        _geometry(g, 2 + f % 4, c)
        for g, f, c in zip(geom_type.tolist(), fid.tolist(), coords)
    ]
    return pd.DataFrame(
        {
            "batch": batch_of_tile[tile].astype(np.int32),
            "z": np.full(n, 16, dtype=np.int32),
            "x": tile_x[tile].astype(np.int64),
            "y": tile_y[tile].astype(np.int64),
            "layer": layer,
            "feature_id": fid,
            "geom_type": geom_type,
            "geometry": geometry,
            "props": props,
        }
    )


# -- spatial_join -----------------------------------------------------------


def images(seed: int) -> pd.DataFrame:
    """``images_v`` (IMAGES_SQL) over the sf0.1 order keys, split into
    ``POINT_BATCHES`` seeded batches of equal size."""
    k = np.arange(ORDERS, dtype=np.int64)
    city = k % 5 == 0
    lon = np.where(
        city,
        -122.52 + (((k * 48271) % 1_000_000).astype(np.float64) / 1e6) * 0.25,
        -180.0 + ((k * 48271) % 360_000_000).astype(np.float64) / 1e6,
    )
    lat = np.where(
        city,
        37.70 + (((k * 69621) % 1_000_000).astype(np.float64) / 1e6) * 0.12,
        -85.0 + ((k * 69621) % 170_000_000).astype(np.float64) / 1e6,
    )
    batch = _rng(seed, "points").permutation(ORDERS) % POINT_BATCHES
    return pd.DataFrame(
        {
            "batch": batch.astype(np.int32),
            "image_id": [f"img_{i:08d}" for i in k],
            "lon": lon,
            "lat": lat,
        }
    )


def landmarks() -> pd.DataFrame:
    """``landmarks_v`` (LANDMARKS_SQL) over the sf0.1 supplier keys."""
    s = np.arange(SUPPLIERS, dtype=np.int64)
    return pd.DataFrame(
        {
            "landmark_id": s + 1,
            "lon": -180.0 + ((s * 7919 + 13) % 360_000).astype(np.float64) / 1e3,
            "lat": -80.0 + ((s * 104729 + 7) % 160_000).astype(np.float64) / 1e3,
        }
    )


def polygons() -> pd.DataFrame:
    """``polygons_v`` (POLYGONS_SQL) over the sf0.1 nation keys."""
    n = np.arange(NATIONS, dtype=np.int64)
    lon_min = -180.0 + ((n * 7321 + 11) % 320_000).astype(np.float64) / 1e3
    lat_min = -80.0 + ((n * 3571 + 5) % 140_000).astype(np.float64) / 1e3
    return pd.DataFrame(
        {
            "polygon_id": n + 1,
            "lon_min": lon_min,
            "lat_min": lat_min,
            "lon_max": lon_min + 14.0,
            "lat_max": lat_min + 10.0,
        }
    )


# -- text_dedup -------------------------------------------------------------


def documents(seed: int) -> pd.DataFrame:
    """A salted replica of a documents-shaped corpus with bench.py's
    near-duplicate structure: replicas 0-3 of a base document append
    ``" rep<r>"`` (near-duplicates LSH must find), later replicas carry
    a salt token every four words (distinct documents). Every 125th
    base document repeats its predecessor verbatim, so exact
    duplicates exist too. All replicas of a base document share its
    batch."""
    rng = _rng(seed, "documents")
    lengths = rng.integers(10, 101, size=BASE_DOCS)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    vocab = np.array(VOCAB)
    base = [" ".join(vocab[words[bounds[i] : bounds[i + 1]]]) for i in range(BASE_DOCS)]
    for i in range(125, BASE_DOCS, 125):
        base[i] = base[i - 1]
    salt = rng.integers(0, 1_000_000)
    batch_of_base = rng.permutation(BASE_DOCS) % DOC_BATCHES
    ids, texts, batches = [], [], []
    for rep in range(DOC_REPLICAS):
        token = f"u{salt}x{rep} "
        for i, text in enumerate(base):
            ids.append(i * 100 + rep)
            batches.append(batch_of_base[i])
            if rep < 4:
                texts.append(f"{text} rep{rep}")
            else:
                w = text.split(" ")
                texts.append(
                    "".join(" ".join(w[j : j + 4]) + " " + token
                            for j in range(0, len(w), 4)).rstrip()
                )
    return pd.DataFrame(
        {
            "batch": np.array(batches, dtype=np.int32),
            "doc_id": np.array(ids, dtype=np.int64),
            "text": texts,
        }
    )


# -- digests ----------------------------------------------------------------


def digest(df: pd.DataFrame) -> str:
    """Order-sensitive content digest of a generated frame."""
    h = hashlib.sha256()
    for col in df.columns:
        h.update(col.encode())
        values = df[col].to_numpy()
        if values.dtype == object:
            h.update(repr(values.tolist()).encode())
        else:
            h.update(values.tobytes())
    return h.hexdigest()


def nbytes(df: pd.DataFrame) -> int:
    return int(df.memory_usage(deep=True, index=False).sum())
