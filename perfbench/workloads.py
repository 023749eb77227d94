"""The benchmark workloads: set-up, timed operations with their output checks, and
the traced per-layer breakdown.

Every timed operation is the engine's public call plus the action that
materialises its result: a ``collect`` of a small final result (an
order-insensitive digest where the result itself is large), or the writes the
call itself makes (``run_flagship``, snapshot commits). It is never
``count()``; the traced stage segments use ``noop`` writes. Checks compare
against ``oracle`` derivations made at set-up and run outside the timed
region.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from copernicusdata_jl_spark import flagship
from copernicusdata_jl_spark.functions import cells, geo
from copernicusdata_jl_spark.operators import dedup as D
from copernicusdata_jl_spark.operators.knn import knn_kring
from copernicusdata_jl_spark.operators.lineage import write_checkpoint
from copernicusdata_jl_spark.operators.snapshot import SnapshotTable
from copernicusdata_jl_spark.operators.spatial_join import build_covers, spatial_join, tile_pyramid

from . import gen, oracle
from .trace import Tracer, segment_self

# registry blocking of ngram_containment (queries_r5.q_ngram_containment)
CONTAINMENT_MAX_LEN_DIFF = 20
CONTAINMENT_MIN = 0.5
# registry settings of fuzzy_match (queries_r5b.q_fuzzy_match)
FUZZY_BITS, FUZZY_BAND_BITS, FUZZY_MAX_DIST = 32, 16, 120
MINHASH_THRESHOLD = 0.8
# least share of each kind of planted pair (among those whose exact Jaccard
# or edit distance qualifies) that an op must return. On seeds 0-130 the
# least seen were, for MinHash-LSH, edits 0.92, quotes 0.96, boilerplate
# 0.98; for the registry's two 16-bit SimHash bands, edits 0.29, quotes 0.42,
# boilerplate 0.10. So the fuzzy floors catch an empty or gutted result, not
# a small loss.
MINHASH_RECALL_MIN = {"edit": 0.85, "quote": 0.9, "boiler": 0.9}
FUZZY_RECALL_MIN = {"edit": 0.15, "quote": 0.2, "boiler": 0.03}
# kNN: a threshold between the two batch sizes puts one batch on each side
# of knn_kring's state="auto" choice (driver state below, DataFrame above)
KNN_THRESHOLD = 32
# traced layer passes; each segment wall is the median over the passes
LAYER_REPS = 3


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest_df(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-row order-insensitive digest: row count and xor of row hashes."""
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("d"))


def write_parquet(pdf: pd.DataFrame, path: str, files: int = 8) -> None:
    """Write a generated table as ``files`` parquet files, so the scan has
    that many tasks (zstd like the engine's session; timestamps as UTC
    microseconds, which Spark reads as TIMESTAMP)."""
    os.makedirs(path, exist_ok=True)
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    for i, f in enumerate(t.schema):
        if pa.types.is_timestamp(f.type):
            t = t.set_column(i, f.name, t.column(i).cast(pa.timestamp("us", tz="UTC")))
    step = -(-t.num_rows // files)
    for k in range(files):
        pq.write_table(t.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"),
                       compression="zstd")


def dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


@dataclass
class Op:
    """One timed operation: ``run`` is the public call plus its action;
    ``check`` validates the result outside the timed region and returns an
    error message, or None when the output is correct. Where the action is a
    digest rather than the whole output, ``plan`` returns (the op's output,
    the frame the action evaluates) for the no-pruning self-test."""
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    plan: Callable[[], tuple[DataFrame, DataFrame]] | None = None


class Workload:
    name = ""
    # untraced cycles a run measures at least, however short --seconds is;
    # each op's figure is its median over them
    min_cycles = 1

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.props: dict[str, float] = {}
        self.stats: dict[str, float] = {}
        # traced cumulative segments: span name -> predecessor span name
        self.segment_parents: dict[str, str | None] = {}

    def generate(self) -> None:
        """Build inputs and expected outputs (driver side, once)."""

    def ingest(self, rep: int) -> None:
        """Write the inputs where the engine reads them; repeated to take the
        median set-up time, the last repetition's copy is used."""

    def cycle(self) -> list[Op]:
        """The timed operations of one cycle, in order."""
        return []

    def after_cycle(self) -> None:
        """Untimed housekeeping between cycles."""

    def layers(self, tr: Tracer) -> dict[str, float]:
        """Traced per-layer breakdown (metric name -> value)."""
        return {}

    def _path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# ---------------------------------------------------------------------------
# pages_flagship
# ---------------------------------------------------------------------------


class PagesFlagship(Workload):
    name = "pages_flagship"
    RES = gen.FLAGSHIP_RES

    def generate(self) -> None:
        self.g = gen.pages(self.seed)
        self.props = self.g["props"]
        self.expected = gen.pages_expected(self.g)
        lin = pd.DataFrame(self.expected["lineage"], columns=["url", "poly_id", "text_sha256", "cell_id"])
        lin["bucket"] = oracle.eqc_parent(lin["cell_id"].to_numpy(), self.RES, 3) % 64
        rows = (
            self.spark.createDataFrame(lin)
            .groupBy("bucket")
            .agg(F.min("cell_id"), F.max("cell_id"), F.count(F.lit(1)),
                 F.expr("bit_xor(xxhash64(url, poly_id, text_sha256))"))
            .collect()
        )
        self.expected_lineage = sorted(tuple(int(v) for v in r) for r in rows)
        self.expected["n_lineage_buckets"] = float(len(rows))
        self.stats["docs"] = self.expected["n_docs"]
        self.n_ops = 0

    def ingest(self, rep: int) -> None:
        self.table = f"pages_r{rep}"
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        df = self.spark.createDataFrame(self.g["table"])
        flagship.write_pages_bucketed(df, self.table, buckets=2 * self.spark.sparkContext.defaultParallelism)

    def _run(self) -> tuple[dict, str]:
        self.n_ops += 1
        ck = self._path("checkpoints", str(self.n_ops))
        return flagship.run_flagship(self.spark, f"table:{self.table}", checkpoint_path=ck), ck

    def _check(self, res: tuple[dict, str]) -> str | None:
        m, ck = res
        try:
            for k in ("n_docs", "n_extracted", "corpus_chars", "n_tile_assignments", "n_tiles", "n_lineage_buckets"):
                if m[k] != self.expected[k]:
                    return f"{k}: got {m[k]}, expected {self.expected[k]}"
            got = sorted(
                (int(r["bucket"]), int(r["cell_min"]), int(r["cell_max"]), int(r["row_count"]), int(r["checksum"]))
                for r in self.spark.read.parquet(ck).collect()
            )
            if got != self.expected_lineage:
                return "lineage checkpoint rows differ from the driver derivation"
            return None
        finally:
            shutil.rmtree(ck, ignore_errors=True)

    def cycle(self) -> list[Op]:
        return [Op("flagship", self._run, self._check)]

    def _layer_pass(self, tr: Tracer) -> tuple:
        """One pass over the cumulative flagship segments."""
        out: dict[str, float] = {}
        pages = self.spark.table(self.table)
        cum: dict[str, float] = {}

        def seg(name: str, df: DataFrame, **obs: Any) -> dict:
            o = Observation(name.replace(".", "_"))
            d = df.observe(o, *[c.alias(k) for k, c in obs.items()]) if obs else df
            with tr.span(name, group=True) as s:
                noop(d)
            cum[name] = s["end"] - s["start"]
            return o.get if obs else {}

        rows = seg("flagship.scan", pages, rows=F.count(F.lit(1)))["rows"]
        corpus = flagship.prepare_corpus(pages)
        dd = seg("flagship.dedup", corpus["deduped"], rows=F.count(F.lit(1)))["rows"]
        ch = seg("functions.text.extract", corpus["extracted"], chars=F.sum(F.length("text")))["chars"]
        # the spatial half reads the persisted extraction sidecar, as
        # run_flagship does; a lazy join would extract only the matched pages
        full = corpus["extracted"]
        side = full.select(*[c for c in full.columns if c not in ("html", "text")],
                           F.length("text").alias("n_chars")).persist()
        try:
            noop(side)  # fill the cache; the segment below reads it back
            seg("flagship.sidecar", side)
            indexed = side.withColumn("cell_id", cells.latlng_to_cell_expr("lat", "lon", self.RES))
            seg("flagship.index", indexed)
            with tr.span("flagship.cover_build", group=True) as s:
                sp = flagship.spatial_products(side, [dict(p) for p in self.g["polys"]], self.RES)
            out["flagship.cover_build.wall_s"] = s["end"] - s["start"]
            seg("flagship.join", sp["joined"])
            seg("flagship.tiles", sp["tiles"])
            with tr.span("operators.lineage.rows", group=True) as s:
                lin = sp["lineage"].collect()
            cum["operators.lineage.rows"] = s["end"] - s["start"]
            ck = self._path("layer_checkpoint")
            with tr.span("operators.lineage.write_checkpoint", group=True) as s:
                write_checkpoint(sp["lineage"], ck, run_id="layers")
            cum["operators.lineage.write_checkpoint"] = s["end"] - s["start"]
        finally:
            side.unpersist()
        ck_bytes, ck_files = dir_bytes(ck)
        shutil.rmtree(ck, ignore_errors=True)
        return cum, out, rows, dd, ch, lin, ck_bytes, ck_files

    def layers(self, tr: Tracer) -> dict[str, float]:
        reps = [self._layer_pass(tr) for _ in range(LAYER_REPS)]
        cum = {k: float(np.median([r[0][k] for r in reps])) for k in reps[0][0]}
        out, rows, dd, ch, lin, ck_bytes, ck_files = reps[-1][1:]
        out["flagship.cover_build.wall_s"] = float(np.median([r[1]["flagship.cover_build.wall_s"] for r in reps]))
        self.segment_parents = {
            "flagship.scan": None, "flagship.dedup": "flagship.scan",
            "functions.text.extract": "flagship.dedup", "flagship.sidecar": None,
            "flagship.index": "flagship.sidecar",
            "flagship.join": "flagship.index",
            "flagship.tiles": "flagship.join",
            "operators.lineage.rows": "flagship.join",
            "operators.lineage.write_checkpoint": "operators.lineage.rows",
        }
        for k, v in segment_self(cum, self.segment_parents).items():
            out[f"{k}.wall_s"] = v
        out["flagship.scan.rows_out"] = float(rows)
        out["flagship.dedup.drop_ratio"] = 1.0 - dd / rows
        out["functions.text.extract.chars_out"] = float(ch)
        out["operators.lineage.rows.buckets"] = float(len(lin))
        out["operators.lineage.rows.max_bucket_rows"] = float(max(r["row_count"] for r in lin))
        out["operators.lineage.write_checkpoint.bytes_written"] = float(ck_bytes)
        out["operators.lineage.write_checkpoint.files"] = float(ck_files)
        return out


def _spatial_counters(cover: pd.DataFrame, cand: pd.DataFrame, kinds: dict) -> dict[str, float]:
    pip_rows = float(cand["is_boundary"].sum())
    return {
        "operators.spatial_join.cover_build.cover_cells": float(len(cover)),
        "operators.spatial_join.cover_build.boundary_cell_share": float(cover["is_boundary"].mean()),
        "operators.spatial_join.refine.candidates": float(len(cand)),
        "operators.spatial_join.refine.pip_rows": pip_rows,
        "operators.spatial_join.refine.pip_hit_ratio": kinds["boundary"] / pip_rows if pip_rows else 0.0,
        "operators.spatial_join.refine.interior_skip_ratio": 1.0 - pip_rows / len(cand) if len(cand) else 0.0,
    }


def kernel_rates(lat: np.ndarray, lon: np.ndarray, polys: list[dict], res: int,
                 min_s: float = 0.25) -> dict[str, float]:
    """Points per second of the two NumPy kernels behind the spatial join:
    ray-cast PIP against every polygon part, and lat/lng -> cell."""
    parts = [part for p in polys
             for part in geo.split_antimeridian([np.asarray(r, dtype=np.float64) for r in p["rings"]])]
    rates = {}
    for name, fn, per_call in (
        ("kernel.pip.points_per_s", lambda: [geo.points_in_rings(lat, lon, rings) for rings in parts],
         len(lat) * len(parts)),
        ("kernel.cells.points_per_s", lambda: cells.latlng_to_cell(lat, lon, res), len(lat)),
    ):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            el = time.perf_counter() - t0
            if el >= min_s:
                break
        rates[name] = n * per_call / el
    return rates


# ---------------------------------------------------------------------------
# spatial_dense
# ---------------------------------------------------------------------------


class SpatialDense(Workload):
    name = "spatial_dense"

    def generate(self) -> None:
        self.g = gen.spatial(self.seed)
        self.props = self.g["props"]
        g = self.g
        pairs = pd.DataFrame(g["matches"], columns=["i", "poly_id"])
        pairs["event_id"] = g["points"]["event_id"].to_numpy()[pairs["i"].to_numpy()]
        r = digest_df(self.spark.createDataFrame(pairs[["event_id", "poly_id"]]), ["event_id", "poly_id"]).first()
        self.join_digest = (int(r["n"]), int(r["d"]))
        self.tiles_expected = _tiles_oracle(g["points"]["lat"].to_numpy(), g["points"]["lon"].to_numpy(),
                                           gen.SPATIAL_RES, gen.TILE_COARSE_RES)
        pts = g["points"]
        ids, la, lo = pts["event_id"].to_numpy(), pts["lat"].to_numpy(), pts["lon"].to_numpy()
        self.knn_expected = {}
        for q in (g["q_small"], g["q_bulk"]):
            for qid, nn in zip(q["query_id"], oracle.knn_bruteforce(q["qlat"], q["qlon"], la, lo, ids, gen.KNN_K + 1)):
                self.knn_expected[int(qid)] = nn

    def ingest(self, rep: int) -> None:
        path = self._path(f"points_r{rep}")
        write_parquet(self.g["points"], path)
        self.points = self.spark.read.parquet(path)
        self.q_small = self.spark.createDataFrame(self.g["q_small"])
        self.q_bulk = self.spark.createDataFrame(self.g["q_bulk"])

    def _join_df(self) -> DataFrame:
        return spatial_join(self.points, self.g["polys"], res=gen.SPATIAL_RES, keep_cols=["event_id"],
                            strategy="broadcast")

    def _join_digest(self, joined: DataFrame) -> DataFrame:
        return joined.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(event_id, poly_id))").alias("d"),
            F.sum(F.when(F.col("match_kind") == "boundary", 1).otherwise(0)).alias("boundary"),
        )

    def _tiles(self):
        return tile_pyramid(self.points, res_fine=gen.SPATIAL_RES, res_coarse=gen.TILE_COARSE_RES).collect()

    def _check_join(self, r) -> str | None:
        got = (int(r[0]["n"]), int(r[0]["d"]))
        if got != self.join_digest:
            return f"spatial_join digest {got} != brute-force PIP {self.join_digest}"
        return None

    def _check_tiles(self, rows) -> str | None:
        got = {(int(r["res"]), int(r["cell_id"])): (int(r["n_events"]), int(r["n_fine_cells"])) for r in rows}
        if len(got) != len(rows) or got != self.tiles_expected:
            return f"tile_pyramid: {len(rows)} rows differ from the driver derivation ({len(self.tiles_expected)})"
        return None

    def _check_knn(self, rows) -> str | None:
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append((int(r["rank"]), int(r["event_id"]), float(r["dist_m"])))
        for qid, lst in got.items():
            exp = self.knn_expected[qid]
            lst.sort()
            if [x[0] for x in lst] != list(range(1, gen.KNN_K + 1)):
                return f"knn query {qid}: ranks {[x[0] for x in lst]}"
            for (_, eid, d), (xid, xd) in zip(lst, exp):
                if abs(d - xd) > 0.01:
                    return f"knn query {qid}: distance {d} != brute force {xd}"
                # ids may differ only between exact distance ties
                if eid != xid and abs(exp[gen.KNN_K - 1][1] - exp[gen.KNN_K][1]) > 0.01:
                    return f"knn query {qid}: id {eid} != brute force {xid}"
        if len(got) == 0:
            return "knn returned no rows"
        return None

    def _knn(self, q: DataFrame):
        return knn_kring(self.points, q, res=gen.KNN_RES, k_ring=gen.KNN_RING, k=gen.KNN_K, point_id_col="event_id",
                         small_query_threshold=KNN_THRESHOLD).collect()

    def _check_knn_batch(self, q_pdf: pd.DataFrame):
        def check(rows):
            n = len({int(r["query_id"]) for r in rows})
            if n != len(q_pdf):
                return f"knn answered {n} of {len(q_pdf)} queries"
            return self._check_knn(rows)
        return check

    def cycle(self) -> list[Op]:
        return [
            Op("spatial_join", lambda: self._join_digest(self._join_df()).collect(), self._check_join,
               plan=lambda: (self._join_df(), self._join_digest(self._join_df()))),
            Op("tile_pyramid", self._tiles, self._check_tiles),
            Op("knn", lambda: self._knn(self.q_small), self._check_knn_batch(self.g["q_small"])),
            Op("knn_bulk", lambda: self._knn(self.q_bulk), self._check_knn_batch(self.g["q_bulk"])),
        ]

    def _layer_pass(self, tr: Tracer) -> tuple[dict, float, dict]:
        cum: dict[str, float] = {}
        for name, df in (("scan", self.points),
                         ("functions.cells.index",
                          self.points.withColumn("cell_id", cells.latlng_to_cell_expr("lat", "lon", gen.SPATIAL_RES)))):
            with tr.span(name, group=True) as s:
                noop(df)
            cum[name] = s["end"] - s["start"]
        with tr.span("operators.spatial_join.cover_build", group=True) as s:
            joined = self._join_df()
        cover_s = s["end"] - s["start"]
        o = Observation("refine")
        with tr.span("operators.spatial_join.refine", group=True) as s:
            noop(joined.observe(o, F.sum(F.when(F.col("match_kind") == "boundary", 1).otherwise(0)).alias("boundary")))
        cum["operators.spatial_join.refine"] = s["end"] - s["start"]
        return cum, cover_s, o.get

    def layers(self, tr: Tracer) -> dict[str, float]:
        reps = [self._layer_pass(tr) for _ in range(LAYER_REPS)]
        cum = {k: float(np.median([r[0][k] for r in reps])) for k in reps[0][0]}
        out: dict[str, float] = {
            "operators.spatial_join.cover_build.wall_s": float(np.median([r[1] for r in reps]))}
        self.segment_parents = {"scan": None, "functions.cells.index": "scan",
                                "operators.spatial_join.refine": "functions.cells.index"}
        selfs = segment_self(cum, self.segment_parents)
        out["functions.cells.index.wall_s"] = selfs["functions.cells.index"]
        out["operators.spatial_join.refine.wall_s"] = selfs["operators.spatial_join.refine"]
        g = self.g
        la, lo = g["points"]["lat"].to_numpy(), g["points"]["lon"].to_numpy()
        cover = build_covers(g["polys"], gen.SPATIAL_RES, compact=False)
        cand = cover.merge(pd.DataFrame({"cell_id": oracle.eqc_cell(la, lo, gen.SPATIAL_RES)}), on="cell_id")
        out.update(_spatial_counters(cover, cand, reps[-1][2]))
        with tr.span("operators.spatial_join.tile_pyramid", group=True) as s:
            rows = self._tiles()
        out["operators.spatial_join.tile_pyramid.wall_s"] = s["end"] - s["start"]
        out["operators.spatial_join.tile_pyramid.rows_out"] = float(len(rows))
        for name, q in (("operators.knn.kring.driver", self.q_small), ("operators.knn.kring.dataframe", self.q_bulk)):
            with tr.span(name, group=True) as s:
                self._knn(q)
            out[f"{name}.wall_s"] = s["end"] - s["start"]
        out.update(kernel_rates(la, lo, g["polys"], gen.SPATIAL_RES))
        return out


def _tiles_oracle(lat: np.ndarray, lon: np.ndarray, res_fine: int, res_coarse: int) -> dict:
    fine = oracle.eqc_cell(lat, lon, res_fine)
    cells_f, counts = np.unique(fine, return_counts=True)
    out = {}
    for r in range(res_fine, res_coarse - 1, -1):
        par = oracle.eqc_parent(cells_f, res_fine, r)
        df = pd.DataFrame({"c": par, "n": counts}).groupby("c")["n"].agg(["sum", "size"])
        out.update({(r, int(c)): (int(s), int(z)) for c, s, z in df.itertuples()})
    return out


# ---------------------------------------------------------------------------
# neardup_corpus
# ---------------------------------------------------------------------------


class NeardupCorpus(Workload):
    """Near-dup half of corpus_dedup_store."""
    name = "neardup_corpus"

    def generate(self) -> None:
        self.g = gen.corpus(self.seed)
        self.props = self.g["props"]
        t = self.g["table"]
        self.sh = [oracle.shingles(x) for x in t["text"]]
        self.texts = list(t["text"])
        self.lev_cache: dict[tuple[int, int], int] = {}
        # containment over the registry's blocking, every blocked pair
        exp = {}
        by_lang: dict[str, list[int]] = {}
        for i, lang in enumerate(t["lang"]):
            by_lang.setdefault(lang, []).append(i)
        nch = t["n_chars"].to_numpy()
        for ids in by_lang.values():
            ids = np.array(ids)
            for j, a in enumerate(ids):
                near = ids[j + 1:][np.abs(nch[ids[j + 1:]] - nch[a]) <= CONTAINMENT_MAX_LEN_DIFF]
                for b in near:
                    lo_, hi_ = (a, b) if a < b else (b, a)
                    ca, cb = self._containment(lo_, hi_)
                    if max(ca, cb) >= CONTAINMENT_MIN:
                        exp[(int(lo_), int(hi_))] = (ca, cb)
        self.containment_expected = exp

    def _lev(self, a: int, b: int) -> int:
        """Exact edit distance of two documents, computed once per pair: every
        cycle re-verifies the same pairs."""
        if (a, b) not in self.lev_cache:
            self.lev_cache[(a, b)] = oracle.levenshtein(self.texts[a], self.texts[b])
        return self.lev_cache[(a, b)]

    def _containment(self, a: int, b: int) -> tuple[float, float]:
        sa, sb = self.sh[a], self.sh[b]
        inter = len(sa & sb)
        return round(inter / len(sa), 6), round(inter / len(sb), 6)

    def ingest(self, rep: int) -> None:
        path = self._path(f"docs_r{rep}")
        write_parquet(self.g["table"], path)
        self.docs = self.spark.read.parquet(path)

    def _recall(self, op: str, found: set, ok: Callable[[int, int], bool],
                floor: dict[str, float]) -> str | None:
        """Recall of the qualifying planted pairs, per kind, against ``floor``;
        stored as ``<op>_recall`` (all kinds) in the run's stats."""
        hit = tot = 0
        for kind, least in floor.items():
            want = [(a, b) for a, b, k in self.g["planted"] if k == kind and ok(a, b)]
            if not want:
                return f"{op}: no planted {kind} pair qualifies"
            n = sum(p in found for p in want)
            if n / len(want) < least:
                return f"{op}: found {n} of {len(want)} planted {kind} pairs, below {least:.0%}"
            hit, tot = hit + n, tot + len(want)
        self.stats[f"{op}_recall"] = hit / tot
        return None

    def _check_minhash(self, rows) -> str | None:
        for r in rows:
            a, b = int(r["id_a"]), int(r["id_b"])
            j = round(oracle.jaccard(self.sh[a], self.sh[b]), 6)
            if not (a < b and j == round(float(r["jaccard"]), 6) and j >= MINHASH_THRESHOLD):
                return f"minhash pair ({a}, {b}) jaccard {r['jaccard']} != exact {j}"
        found = {(int(r["id_a"]), int(r["id_b"])) for r in rows}
        if len(found) != len(rows):
            return "minhash_dedup returned duplicate pairs"
        return self._recall("minhash", found, lambda a, b: oracle.jaccard(self.sh[a], self.sh[b]) >= MINHASH_THRESHOLD,
                            MINHASH_RECALL_MIN)

    def _check_fuzzy(self, rows) -> str | None:
        for r in rows:
            a, b = int(r["id_a"]), int(r["id_b"])
            d = self._lev(a, b)
            if not (a < b and d == int(r["dist"]) and d <= FUZZY_MAX_DIST):
                return f"fuzzy pair ({a}, {b}) dist {r['dist']} != exact {d}"
        found = {(int(r["id_a"]), int(r["id_b"])) for r in rows}
        if len(found) != len(rows):
            return "fuzzy_neardup returned duplicate pairs"
        return self._recall("fuzzy", found, lambda a, b: self._lev(a, b) <= FUZZY_MAX_DIST, FUZZY_RECALL_MIN)

    def _check_containment(self, rows) -> str | None:
        got = {(int(r["id_a"]), int(r["id_b"])): (round(float(r["cont_a"]), 6), round(float(r["cont_b"]), 6))
               for r in rows}
        if len(got) != len(rows) or got != self.containment_expected:
            return f"containment: {len(rows)} pairs differ from the {len(self.containment_expected)} derived"
        return None

    def _minhash(self) -> DataFrame:
        return D.minhash_dedup(self.docs, threshold=MINHASH_THRESHOLD)

    def _fuzzy(self) -> DataFrame:
        return D.fuzzy_neardup(self.docs, bits=FUZZY_BITS, band_bits=FUZZY_BAND_BITS, max_dist=FUZZY_MAX_DIST)

    def _sh_docs(self) -> DataFrame:
        return self.docs.select("doc_id", "lang", "n_chars", D.word_ngrams_expr(F.col("text"), 3).alias("sh"))

    def _blocked(self, sh: DataFrame) -> DataFrame:
        a, b = sh.alias("a"), sh.alias("b")
        return (
            a.join(b, "lang")
            .filter((F.col("a.doc_id") < F.col("b.doc_id"))
                    & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= CONTAINMENT_MAX_LEN_DIFF))
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        )

    def _containment_df(self) -> DataFrame:
        sh = self._sh_docs()
        out = D.containment_verify(self._blocked(sh), sh)
        return out.filter(F.greatest("cont_a", "cont_b") >= CONTAINMENT_MIN)

    def cycle(self) -> list[Op]:
        return [
            Op("minhash_dedup", lambda: self._minhash().collect(), self._check_minhash),
            Op("fuzzy_neardup", lambda: self._fuzzy().collect(), self._check_fuzzy),
            Op("containment", lambda: self._containment_df().collect(), self._check_containment),
        ]

    def layers(self, tr: Tracer) -> dict[str, float]:
        """Cumulative segments, as for the flagship: signatures (MinHash and
        SimHash); candidates (the three generators, recomputing the
        signatures they band); verify (the three ops, recomputing their
        candidates). ``wall_s`` and ``exec_cpu_s`` are both self values."""
        out: dict[str, float] = {}
        cum: dict[str, float] = {}
        sh = self.docs.select("doc_id", D.word_ngrams_expr(F.col("text"), 3).alias("sh"))
        sig = D.minhash_signatures(sh, "doc_id", "sh", 8, fast=True)
        sims = D.simhash(self.docs, bits=FUZZY_BITS)
        with tr.span("operators.dedup.signatures", group=True) as s:
            noop(sig)
            noop(sims)
        cum["operators.dedup.signatures"] = s["end"] - s["start"]
        bands = D.lsh_bands(sig, "doc_id", 4, 2)
        with tr.span("operators.dedup.candidates", group=True) as s:
            n_mh = _rows(D.candidate_pairs(bands, "doc_id"))
            n_sim = _rows(D.simhash_band_pairs(sims, bits=FUZZY_BITS, band_bits=FUZZY_BAND_BITS))
            n_blk = _rows(self._blocked(self._sh_docs()))
        cum["operators.dedup.candidates"] = s["end"] - s["start"]
        kept = 0
        with tr.span("operators.dedup.verify", group=True) as s:
            for df in (self._minhash(), self._fuzzy(), self._containment_df()):
                kept += _rows(df)
        cum["operators.dedup.verify"] = s["end"] - s["start"]
        self.segment_parents = {"operators.dedup.signatures": None,
                                "operators.dedup.candidates": "operators.dedup.signatures",
                                "operators.dedup.verify": "operators.dedup.candidates"}
        for k, v in segment_self(cum, self.segment_parents).items():
            out[f"{k}.wall_s"] = v
        max_bucket = bands.groupBy("band", "key").count().agg(F.max("count")).first()[0]
        out["operators.dedup.candidates.max_bucket_size"] = float(max_bucket)
        out["operators.dedup.candidates.candidate_pairs"] = float(n_mh + n_sim + n_blk)
        out["operators.dedup.verify.verified_ratio"] = kept / max(1, n_mh + n_sim + n_blk)
        return out


def _rows(df: DataFrame) -> int:
    """Row count taken through an observed noop write (the full plan runs)."""
    o = Observation("rows")
    noop(df.observe(o, F.count(F.lit(1)).alias("n")))
    return int(o.get["n"])


# ---------------------------------------------------------------------------
# snapshot_ingest
# ---------------------------------------------------------------------------


class SnapshotIngest(Workload):
    """Snapshot-ingest half of corpus_dedup_store; each cycle starts from an
    empty table, so every cycle does the same work."""
    name = "snapshot_ingest"
    COLS = ["url", "warc_ts", "lang", "n_chars", "text", "text_sha256"]

    def generate(self) -> None:
        self.g = gen.snapshot(self.seed)
        self.props = self.g["props"]
        r = digest_df(self.spark.createDataFrame(self.g["expected"]), self.COLS).first()
        self.scan_digest = (int(r["n"]), int(r["d"]))
        exp = self.g["expected"].set_index("url")
        self.point_expected = {u: tuple(exp.loc[u, c] for c in self.COLS[1:]) for u in self.g["point_urls"]}
        self.n_cycles = 0

    def ingest(self, rep: int) -> None:
        self.inputs = []
        for k, (kind, pdf) in enumerate(self.g["steps"]):
            path = self._path(f"inputs_r{rep}", f"{k}_{kind}")
            write_parquet(pdf, path)
            self.inputs.append((kind, path))
        self.input_bytes = sum(dir_bytes(p)[0] for _, p in self.inputs)

    def _table(self) -> str:
        return self._path("tables", str(self.n_cycles))

    def _commit(self, k: int, kind: str, path: str):
        t = SnapshotTable(self._table())
        df = self.spark.read.parquet(path)
        if kind == "commit":
            return t.commit(df, f"inc{k}", bloom_cols=["url"])
        return t.upsert(df, ["url"], run_id=f"up{k}")

    def _point(self, url: str):
        return SnapshotTable(self._table()).read(self.spark, where=[("url", "==", url)]).collect()

    def _check_point(self, url: str):
        def check(rows) -> str | None:
            exp = self.point_expected[url]
            if len(rows) != 1:
                return f"point read of {url}: {len(rows)} rows"
            got = tuple(rows[0][c] for c in self.COLS[1:])
            if got[0] != pd.Timestamp(exp[0]).to_pydatetime() or got[1:] != exp[1:]:
                return f"point read of {url} differs from the expected live row"
            return None
        return check

    def _scan_df(self) -> DataFrame:
        return SnapshotTable(self._table()).read(self.spark)

    def _check_scan(self, r) -> str | None:
        got = (int(r[0]["n"]), int(r[0]["d"]))
        if got != self.scan_digest:
            return f"read-after-write digest {got} != expected live set {self.scan_digest}"
        self.stats["space_amp"] = dir_bytes(self._table())[0] / self.input_bytes
        return None

    def cycle(self) -> list[Op]:
        ops = []
        for k, (kind, path) in enumerate(self.inputs):
            ops.append(Op(kind, lambda k=k, kind=kind, path=path: self._commit(k, kind, path),
                          lambda v, k=k: None if v == k else f"commit {k} published version {v}"))
        for u in self.g["point_urls"]:
            ops.append(Op("point_read", lambda u=u: self._point(u), self._check_point(u)))
        ops.append(Op("scan_read", lambda: digest_df(self._scan_df(), self.COLS).collect(), self._check_scan,
                      plan=lambda: (self._scan_df(), digest_df(self._scan_df(), self.COLS))))
        return ops

    def after_cycle(self) -> None:
        shutil.rmtree(self._table(), ignore_errors=True)
        self.n_cycles += 1

    def layers(self, tr: Tracer) -> dict[str, float]:
        out: dict[str, float] = {}
        acc: dict[str, list[float]] = {}
        for k, (kind, path) in enumerate(self.inputs):
            before = dir_bytes(self._table()) if os.path.isdir(self._table()) else (0, 0)
            name = f"operators.snapshot.{kind}"
            with tr.span(name, group=True) as s:
                self._commit(k, kind, path)
            after = dir_bytes(self._table())
            a = acc.setdefault(name, [0.0, 0.0, 0.0])
            a[0] += s["end"] - s["start"]
            a[1] += after[0] - before[0]
            a[2] += after[1] - before[1]
        for name, (w, b, f) in acc.items():
            out[f"{name}.wall_s"] = w
            out[f"{name}.bytes_written"] = b
            out[f"{name}.files_written"] = f
        t = SnapshotTable(self._table())
        with tr.span("operators.snapshot.read", group=True) as s:
            for u in self.g["point_urls"]:
                self._point(u)
            digest_df(self._scan_df(), self.COLS).collect()
        out["operators.snapshot.read.wall_s"] = s["end"] - s["start"]
        total = len(t.files_for())
        scanned = [len(t.files_for(where=[("url", "==", u)])) for u in self.g["point_urls"]]
        out["operators.snapshot.read.files_scanned_ratio"] = float(np.mean(scanned)) / total
        out["operators.snapshot.space_amp"] = dir_bytes(self._table())[0] / self.input_bytes
        self.after_cycle()
        return out


# ---------------------------------------------------------------------------
# the two benchmark workloads: parts run one after another in one session
# ---------------------------------------------------------------------------


class Combined(Workload):
    """Runs its parts' set-up, timed ops and layers one after another in one
    session. Two workloads of two parts each, rather than four, so that the
    benchmark's runs fit the time a full measurement may take: every run pays
    a fixed session start, input generation and warm-up, and with four
    workloads only one cycle of each could be measured. The per-operation
    figures and the traced layers still separate the parts."""
    part_types: tuple[type[Workload], ...] = ()

    def __init__(self, spark: SparkSession, seed: int, work: str):
        super().__init__(spark, seed, work)
        self.parts = tuple(t(spark, seed, work) for t in self.part_types)

    def generate(self) -> None:
        for p in self.parts:
            p.generate()
            self.props.update(p.props)
            self.stats.update(p.stats)

    def ingest(self, rep: int) -> None:
        for p in self.parts:
            p.ingest(rep)

    def cycle(self) -> list[Op]:
        return [op for p in self.parts for op in p.cycle()]

    def after_cycle(self) -> None:
        for p in self.parts:
            p.after_cycle()
            self.stats.update(p.stats)

    def layers(self, tr: Tracer) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in self.parts:
            out.update(p.layers(tr))
            self.segment_parents.update(p.segment_parents)
        return out


class PagesSpatial(Combined):
    """The flagship pages run, then the dense point set through the spatial
    operators."""
    name = "pages_spatial"
    part_types = (PagesFlagship, SpatialDense)
    # one measured cycle of the dense spatial ops alone spread 22-28% of the
    # median over ten seeded runs on the 4-vCPU host (the knn batches carry
    # most of it); two cycles of both parts halve the weight of any one slow
    # stretch
    min_cycles = 2


class CorpusDedupStore(Combined):
    """The near-dup pass over a documents table, then the storage write side:
    snapshot commits, url-keyed upserts and reads."""
    name = "corpus_dedup_store"
    part_types = (NeardupCorpus, SnapshotIngest)


WORKLOADS = {w.name: w for w in (PagesSpatial, CorpusDedupStore)}
