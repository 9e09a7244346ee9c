"""The three request shapes, their inputs and their reference checks.

Each workload builds its engine inputs from seeded ``inputs`` frames,
answers one request per call of ``request`` (one batch job over a new
DataFrame, same shape every time) and checks every answer against a
reference computed by a second path before timing starts.
"""

from __future__ import annotations

import gzip
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

import bench
from vtshaver_spark import Filters, style_to_filters
from vtshaver_spark.functions.s2 import s2_cell_id_np, with_s2_cell
from vtshaver_spark.operators.bloom import bloom_anti_join
from vtshaver_spark.operators.dedup import exact_dedup, minhash_lsh_candidates
from vtshaver_spark.operators.knn import knn_join_broadcast
from vtshaver_spark.operators.pip import pip_rect_join
from vtshaver_spark.operators.shave import shave
from vtshaver_spark.sources.mvt import decode_tiles, encode_tiles_mvt

from perfbench import inputs
from perfbench.trace import NullTracer

GZIP = {"type": "gzip"}


class CheckFailed(AssertionError):
    """A request's output differs from its reference."""


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _table(df: pd.DataFrame, maps=()) -> pa.Table:
    tbl = pa.Table.from_pandas(df.drop(columns=list(maps)), preserve_index=False)
    for name in maps:
        tbl = tbl.append_column(
            name,
            pa.array([list(d.items()) for d in df[name]],
                     type=pa.map_(pa.string(), pa.string())),
        )
    return tbl


class Result:
    """What one request returned: the answers the check reads, the items
    served, the DataFrames the public calls returned, the counters the
    check found and, for tile_shave, the tile bytes sent and received."""

    def __init__(self, items: int, answers: dict, call_results: list,
                 in_bytes: int = 0, out_bytes: int = 0):
        self.items = items
        self.answers = answers
        self.call_results = call_results
        self.in_bytes = in_bytes
        self.out_bytes = out_bytes
        self.counters: dict = {}
        self.rid = self.t_start = self.t_end = self.gc_ms = None


class Workload:
    name = ""
    batches = 1
    warmup = 0  # requests before measuring: as many as the JIT trend lasts

    def __init__(self, seed: int):
        self.seed = seed
        self.cached: list = []
        self.expected: dict = {}

    def generate(self) -> None:
        raise NotImplementedError

    def build(self, spark) -> None:
        """Engine-side inputs: DataFrames from the generated frames,
        cached and filled."""
        raise NotImplementedError

    def compute_reference(self) -> None:
        raise NotImplementedError

    def request(self, batch: int, tracer, rid: int) -> Result:
        raise NotImplementedError

    def check(self, batch: int, result: Result) -> None:
        raise NotImplementedError

    def staged(self, batch: int) -> dict:
        """Traced runs only: per-stage no-op action times (ms)."""
        return {}

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []

    def _cache(self, df):
        df = df.cache()
        df.count()
        self.cached.append(df)
        return df


# -- tile_shave -------------------------------------------------------------


def _gl(expr, feat: dict, zoom: float):
    """Row-model evaluation of the GL expressions the road style uses."""
    if not isinstance(expr, list):
        return expr
    op, args = expr[0], expr[1:]
    if op == "all":
        return all(_gl(a, feat, zoom) for a in args)
    if op == "any":
        return any(_gl(a, feat, zoom) for a in args)
    if op in ("==", "!="):
        if isinstance(args[0], str):  # legacy filter: [op, key, value]
            left, right = feat["props"].get(args[0]), args[1]
        else:
            left, right = _gl(args[0], feat, zoom), _gl(args[1], feat, zoom)
        return (left == right) == (op == "==")
    if op == "get":
        return feat["props"].get(args[0])
    if op == "zoom":
        return zoom
    if op == "geometry-type":
        return feat["geom_type"]
    if op == "step":
        value, out = _gl(args[0], feat, zoom), args[1]
        for stop, stop_out in zip(args[2::2], args[3::2]):
            if value >= stop:
                out = stop_out
        return _gl(out, feat, zoom)
    if op == "match":
        value = _gl(args[0], feat, zoom)
        for labels, out in zip(args[1:-1:2], args[2:-1:2]):
            if value in (labels if isinstance(labels, list) else [labels]):
                return _gl(out, feat, zoom)
        return _gl(args[-1], feat, zoom)
    raise NotImplementedError(f"reference shave has no GL op {op!r}")


def _referenced_keys(expr, keys: set) -> None:
    if isinstance(expr, list) and expr:
        if expr[0] == "get":
            keys.add(expr[1])
        elif expr[0] in ("==", "!=") and isinstance(expr[1], str):
            keys.add(expr[1])
        for a in expr[1:]:
            _referenced_keys(a, keys)


def row_model_shave(rows: pd.DataFrame, style: dict, zoom: float) -> dict:
    """{(z, x, y): {layer: (sorted kept feature ids, kept property keys)}}
    computed feature by feature from the style JSON.

    vtshaver semantics for styles that never reference
    ``["properties"]`` (the road style does not): unstyled layers and
    Unknown geometries are dropped, a layer without a filter keeps every
    other feature, and kept features keep only the keys the layer's
    filters read."""
    keys: dict = {}
    for sl in style["layers"]:
        _referenced_keys(sl.get("filter"), keys.setdefault(sl["source-layer"], set()))
    out: dict = {}
    for feat in rows.to_dict("records"):
        if feat["geom_type"] == "Unknown" or not any(
            sl.get("minzoom", 0) <= zoom <= sl.get("maxzoom", 24)
            and ("filter" not in sl or _gl(sl["filter"], feat, zoom))
            for sl in style["layers"]
            if sl["source-layer"] == feat["layer"]
        ):
            continue
        kept_keys = keys[feat["layer"]] & set(feat["props"])
        layer = out.setdefault((feat["z"], feat["x"], feat["y"]), {}).setdefault(
            feat["layer"], ([], set()))
        layer[0].append(feat["feature_id"])
        layer[1].update(kept_keys)
    return {
        tile: {name: (sorted(ids), keys) for name, (ids, keys) in layers.items()}
        for tile, layers in out.items()
    }


def _fields(buf: bytes, pos: int, end: int):
    """(field, value) pairs of one protobuf message; length-delimited
    values come back as (start, end) spans."""
    while pos < end:
        key, pos = _varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            value, pos = _varint(buf, pos)
        elif wire == 2:
            n, pos = _varint(buf, pos)
            value, pos = (pos, pos + n), pos + n
        else:
            raise CheckFailed(f"unexpected wire type {wire}")
        yield field, value


def _varint(buf: bytes, pos: int):
    value = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        value |= (b & 0x7F) << shift
        if b < 0x80:
            return value, pos
        shift += 7


def tile_summary(blob: bytes) -> dict:
    """{layer: (sorted feature ids, property keys)} read off the wire."""
    buf = gzip.decompress(blob)
    out = {}
    for field, (s, e) in _fields(buf, 0, len(buf)):
        if field != 3:
            continue
        name, ids, keys = None, [], set()
        for lf, lv in _fields(buf, s, e):
            if lf == 1:
                name = buf[lv[0] : lv[1]].decode()
            elif lf == 3:
                keys.add(buf[lv[0] : lv[1]].decode())
            elif lf == 2:
                ids += [v for f, v in _fields(buf, *lv) if f == 1]
        out[name] = (sorted(ids), keys)
    return out


class TileShave(Workload):
    name = "tile_shave"
    batches = inputs.TILE_BATCHES
    warmup = 8

    def generate(self):
        self.rows = inputs.feature_rows(self.seed)

    def build(self, spark):
        features = spark.createDataFrame(_table(self.rows, maps=("props",)))
        self.tiles = self._cache(
            encode_tiles_mvt(features, compress=GZIP, tile_cols=("batch", "z", "x", "y"))
        )
        sizes = self.tiles.groupBy("batch").agg(F.sum(F.length("tile"))).collect()
        self.in_bytes = {r[0]: r[1] for r in sizes}  # batch -> gzip bytes sent

    def compute_reference(self):
        for b, rows in self.rows.groupby("batch"):
            self.expected[b] = row_model_shave(rows, bench.EXPRESSION_ROAD_STYLE, 16)

    def _source(self, batch):
        return self.tiles.filter(F.col("batch") == batch).drop("batch")

    def _pipeline(self, batch, tracer, rid):
        with tracer.span("style", "call", rid):
            filters = Filters(style_to_filters(bench.EXPRESSION_ROAD_STYLE))
        with tracer.span("sources.mvt.decode", "call", rid):
            rows = decode_tiles(self._source(batch))
        with tracer.span("operators.shave", "call", rid):
            shaved = shave(rows, filters, zoom=16, maxzoom=16)
        with tracer.span("sources.mvt.encode", "call", rid):
            tiles = encode_tiles_mvt(
                shaved.select("z", "x", "y", "layer", "feature_id", "geom_type",
                              "geometry", "props", "prop_types"),
                compress=GZIP,
            )
        return rows, shaved, tiles

    def request(self, batch, tracer, rid):
        _, _, tiles = self._pipeline(batch, tracer, rid)
        with tracer.span("sources.mvt.encode", "action", rid):
            out = tiles.toArrow()
        blobs = {
            (z, x, y): blob
            for z, x, y, blob in zip(*(out.column(c).to_pylist() for c in ("z", "x", "y", "tile")))
        }
        return Result(inputs.TILES_PER_BATCH, blobs, [tiles], self.in_bytes[batch],
                      sum(len(b) for b in blobs.values()))

    def check(self, batch, res):
        want = self.expected[batch]
        _expect(len(res.answers) == len(want),
                f"{len(res.answers)} tiles out, reference has {len(want)}")
        kept = 0
        for key, blob in res.answers.items():
            got = tile_summary(blob)
            _expect(got == want.get(key), f"tile {key} differs from the row-model shave")
            kept += sum(len(ids) for ids, _ in got.values())
        res.counters = {"operators.shave.rows_out": kept}

    def staged(self, batch):
        """No-op writes of decode, decode+shave and the full pipeline."""
        times = []
        for stage in range(3):
            frames = self._pipeline(batch, NullTracer(), -1)
            t0 = time.perf_counter()
            frames[stage].write.format("noop").mode("overwrite").save()
            times.append((time.perf_counter() - t0) * 1e3)
        return {
            "sources.mvt.decode_ms": times[0],
            "operators.shave.exec_ms": times[1] - times[0],
            "sources.mvt.encode_ms": times[2] - times[1],
        }


# -- spatial_join -----------------------------------------------------------

KNN_K = 3
KNN_SAMPLE = 200


def _image_key(image_id):
    return np.array([int(s[4:]) for s in image_id], dtype=np.int64)


class SpatialJoin(Workload):
    name = "spatial_join"
    batches = inputs.POINT_BATCHES
    warmup = 5

    def generate(self):
        self.points = inputs.images(self.seed)
        self.lm = inputs.landmarks()
        self.rects = inputs.polygons()

    def build(self, spark):
        self.images = self._cache(spark.createDataFrame(_table(self.points)))
        self.landmarks = self._cache(spark.createDataFrame(_table(self.lm)))
        self.polygons = self._cache(spark.createDataFrame(_table(self.rects)))

    def compute_reference(self):
        rng = np.random.default_rng([self.seed, 7])
        lm_lon = self.lm.lon.to_numpy()
        lm_lat = self.lm.lat.to_numpy()
        lm_id = self.lm.landmark_id.to_numpy()
        self.samples = {}
        for b, pts in self.points.groupby("batch"):
            lon, lat = pts.lon.to_numpy(), pts.lat.to_numpy()
            key = _image_key(pts.image_id)
            cells = np.unique(s2_cell_id_np(lon, lat, level=10))
            inside = (
                (lon[:, None] >= self.rects.lon_min.to_numpy())
                & (lon[:, None] < self.rects.lon_max.to_numpy())
                & (lat[:, None] >= self.rects.lat_min.to_numpy())
                & (lat[:, None] < self.rects.lat_max.to_numpy())
            )
            pi, ri = np.nonzero(inside)
            pairs = np.sort(key[pi] * 100 + self.rects.polygon_id.to_numpy()[ri])
            pick = rng.choice(len(pts), size=KNN_SAMPLE, replace=False)
            d = (lon[pick, None] - lm_lon) ** 2 + (lat[pick, None] - lm_lat) ** 2
            order = np.lexsort((np.broadcast_to(lm_id, d.shape), d), axis=1)[:, :KNN_K]
            knn = {
                pts.image_id.iloc[p]: (lm_id[o].tolist(), d[i, o])
                for i, (p, o) in enumerate(zip(pick, order))
            }
            self.samples[b] = sorted(knn)
            self.expected[b] = {"cells": cells, "pairs": pairs, "knn": knn,
                                "points": len(pts)}

    def request(self, batch, tracer, rid):
        pts = self.images.filter(F.col("batch") == batch).select("image_id", "lon", "lat")
        with tracer.span("functions.s2", "call", rid):
            cells = with_s2_cell(pts, level=10)
        with tracer.span("functions.s2", "action", rid):
            got_cells = cells.select("cell_s2").distinct().toArrow()
        with tracer.span("operators.pip", "call", rid):
            joined = pip_rect_join(pts, self.polygons)
        with tracer.span("operators.pip", "action", rid):
            got_pairs = joined.select("image_id", "polygon_id").toArrow()
        with tracer.span("operators.knn", "call", rid):
            knn = knn_join_broadcast(pts, self.landmarks, k=KNN_K)
        with tracer.span("operators.knn", "action", rid):
            sample = F.col("image_id").isin(self.samples[batch])
            got_knn = knn.agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_list(F.when(sample, F.struct(
                    "image_id", "rank", "landmark_id", "dist"))).alias("s"),
            ).toArrow()
        return Result(
            self.expected[batch]["points"],
            {"cells": got_cells, "pairs": got_pairs, "knn": got_knn},
            [cells, joined, knn],
        )

    def check(self, batch, res):
        want = self.expected[batch]
        cells = np.sort(res.answers["cells"].column("cell_s2").to_numpy())
        _expect(np.array_equal(cells, want["cells"]),
                "distinct S2 cells differ from s2_cell_id_np")
        p = res.answers["pairs"]
        pairs = np.sort(_image_key(p.column("image_id").to_pylist()) * 100
                        + p.column("polygon_id").to_numpy())
        _expect(np.array_equal(pairs, want["pairs"]),
                "pip matches differ from the numpy rectangle test")
        row = res.answers["knn"].to_pylist()[0]
        _expect(row["n"] == KNN_K * want["points"],
                f"knn returned {row['n']} rows for {want['points']} points")
        got: dict = {}
        for r in sorted(row["s"], key=lambda r: (r["image_id"], r["rank"])):
            got.setdefault(r["image_id"], ([], []))
            got[r["image_id"]][0].append(r["landmark_id"])
            got[r["image_id"]][1].append(r["dist"])
        _expect(sorted(got) == sorted(want["knn"]), "knn sample rows missing")
        for pid, (ids, dists) in want["knn"].items():
            _expect(got[pid][0] == ids and np.allclose(got[pid][1], dists, rtol=1e-12),
                    f"knn neighbours of {pid} differ from brute force")
        res.counters = {"operators.pip.match_rows": len(pairs)}


# -- text_dedup -------------------------------------------------------------

MINHASH_HASHES = 32
MINHASH_BANDS = 8


def _bloom_ref(df):
    # decontamination split: every replica of each 20th base document
    return df.filter((F.col("doc_id") / 100).cast("long") % 20 == 0)


class TextDedup(Workload):
    name = "text_dedup"
    batches = inputs.DOC_BATCHES
    warmup = 7

    def generate(self):
        self.docs = inputs.documents(self.seed)

    def build(self, spark):
        self.corpus = self._cache(spark.createDataFrame(_table(self.docs)))
        self.candidates: dict = {}

    def compute_reference(self):
        for b, docs in self.docs.groupby("batch"):
            norm = docs.text.str.strip().str.lower().str.replace(r"\s+", " ", regex=True)
            groups = docs.assign(norm=norm).groupby("norm").doc_id.agg(["min", "size"])
            keepers = np.sort(groups["min"].to_numpy() * 1_000_000 + groups["size"].to_numpy())
            ref = docs[(docs.doc_id // 100) % 20 == 0]
            survivors = np.sort(docs[~docs.text.isin(set(ref.text))].doc_id.to_numpy())
            self.expected[b] = {"keepers": keepers, "survivors": survivors,
                                "docs": len(docs)}

    def request(self, batch, tracer, rid):
        docs = self.corpus.filter(F.col("batch") == batch).select("doc_id", "text")
        with tracer.span("operators.dedup.exact", "call", rid):
            exact = exact_dedup(docs)
        with tracer.span("operators.dedup.exact", "action", rid):
            keepers = exact.select("keeper_id", "group_size").toArrow()
        with tracer.span("operators.dedup.minhash", "call", rid):
            pairs = minhash_lsh_candidates(docs, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS)
        with tracer.span("operators.dedup.minhash", "action", rid):
            n_pairs = pairs.count()
        with tracer.span("operators.bloom", "call", rid):
            clean = bloom_anti_join(docs, _bloom_ref(docs), lambda: F.md5(F.col("text")),
                                    fpp=0.05)
        with tracer.span("operators.bloom", "action", rid):
            survivors = clean.select("doc_id").toArrow()
        return Result(
            self.expected[batch]["docs"],
            {"keepers": keepers, "pairs": n_pairs, "survivors": survivors},
            [exact, pairs, clean],
        )

    def check(self, batch, res):
        want = self.expected[batch]
        k = res.answers["keepers"]
        keepers = np.sort(k.column("keeper_id").to_numpy() * 1_000_000
                          + k.column("group_size").to_numpy())
        _expect(np.array_equal(keepers, want["keepers"]),
                "exact_dedup survivors differ from pandas drop_duplicates")
        survivors = np.sort(res.answers["survivors"].column("doc_id").to_numpy())
        _expect(np.array_equal(survivors, want["survivors"]),
                "bloom_anti_join output differs from an exact left-anti join")
        first = self.candidates.setdefault(batch, res.answers["pairs"])
        _expect(res.answers["pairs"] == first,
                f"minhash candidates {res.answers['pairs']} != {first} on an earlier request")
        res.counters = {"operators.dedup.minhash_candidates": res.answers["pairs"]}


WORKLOADS = {w.name: w for w in (TileShave, SpatialJoin, TextDedup)}
