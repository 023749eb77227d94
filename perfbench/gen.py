"""Seeded input generators, one per workload.

Each generator is pure NumPy/pandas: no Spark, no clock, no file system. The
same seed gives byte-identical tables (``digest``), and every generator
returns ``props``: the measured input shares that the layers' costs depend
on, so a run records what it was fed. The engine receives only the tables
and polygons built here; the seed never reaches it.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd

from copernicusdata_jl_spark import fixtures
from copernicusdata_jl_spark.functions.text import expected_text_rich, render_html_rich
from copernicusdata_jl_spark.operators.knn import ring_guarantee_m
from copernicusdata_jl_spark.operators.spatial_join import build_covers

from . import oracle

BASE_TS = pd.Timestamp("2024-01-01")
LANGS = np.array(["en", "fr", "de", "es", "zh"])
# run_flagship joins against fixtures.footprints(120) (its built-in default)
FLAGSHIP_FOOTPRINTS = 120
# recrawl rows render a different page body than the original (a changed page)
RECRAWL_ID_OFFSET = 10_000_000
# share of flagship urls crawled again with a changed body
RECRAWL_SHARE = 0.05
# cell resolution of run_flagship (its built-in default) and of the
# spatial_dense join; tile_pyramid rolls the latter up to TILE_COARSE_RES
FLAGSHIP_RES = 7
SPATIAL_RES, TILE_COARSE_RES = 7, 4
# spatial_dense: footprints, and the share of points packed into one cell
N_POLYS, HOT_SHARE = 40, 0.1
# knn_kring settings the kNN batches run with (and are shaped for)
KNN_RES, KNN_RING, KNN_K = 6, 2, 5
# kNN batch sizes (below / above the workload's small_query_threshold); a
# share of each batch sits where no point lies within EMPTY_KM, placed so it
# needs exactly EMPTY_ROUNDS rounds and ranks at most MAX_CANDIDATES points
N_KNN, N_KNN_BULK = 6, 36
EMPTY_SHARE, EMPTY_KM, EMPTY_ROUNDS, MAX_CANDIDATES = 0.25, 200.0, 2, 800
# near-dup corpus: shares of edited copies, quotes and one boilerplate family
EDIT_SHARE, QUOTE_SHARE, BOILER_SHARE = 0.08, 0.04, 0.03
# snapshot: one committed increment, then url-keyed upserts of which
# UPSERT_OVERLAP of the keys already exist
INCREMENTS, UPSERTS, UPSERT_OVERLAP = 1, 2, 0.3


def digest(tables: dict) -> str:
    """sha256 over a canonical serialization of every generated table."""
    h = hashlib.sha256()
    for name in sorted(tables):
        v = tables[name]
        h.update(name.encode())
        if isinstance(v, pd.DataFrame):
            h.update(v.to_csv(index=False).encode())
        else:
            h.update(json.dumps(v, sort_keys=True, default=str).encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# pages_flagship
# ---------------------------------------------------------------------------


def pages(seed: int, n: int = 4000) -> dict:
    """Common-Crawl-style pages: ~3 KB rich html per page, uniform geotags
    (so ~9% land in a footprint), and ``RECRAWL_SHARE`` of urls crawled
    again 30+ days later with a changed body (the row url dedup must keep)."""
    rng = np.random.default_rng([seed, 1])
    rid = np.sort(rng.choice(RECRAWL_ID_OFFSET, size=n, replace=False)).astype(np.int64)
    host = rng.integers(0, 200, n)
    url = np.array([f"https://host{h:03d}.example/p/{i}" for h, i in zip(host, rid)])
    ts = BASE_TS + pd.to_timedelta(rng.integers(0, 30 * 86400, n), unit="s")
    lat = rng.uniform(-80.0, 80.0, n)
    lon = rng.uniform(-180.0, 180.0, n)
    lang = LANGS[rng.integers(0, len(LANGS), n)]
    n_re = int(round(RECRAWL_SHARE * n))
    re_ix = np.sort(rng.choice(n, size=n_re, replace=False))
    rows_rid = np.concatenate([rid, rid[re_ix] + RECRAWL_ID_OFFSET])
    src = np.concatenate([np.arange(n), re_ix])
    rows_ts = np.concatenate([
        ts.to_numpy(),
        (ts[re_ix] + pd.to_timedelta(30 * 86400 + rng.integers(1, 86400, n_re), unit="s")).to_numpy(),
    ])
    table = pd.DataFrame({
        "url": url[src],
        "warc_ts": rows_ts,
        "html": [render_html_rich(int(i)).encode("utf-8") for i in rows_rid],
        "lang": lang[src],
        "lat": lat[src],
        "lon": lon[src],
    })
    # surviving render id per url: the recrawl where one exists
    survivor = rid.copy()
    survivor[re_ix] += RECRAWL_ID_OFFSET
    polys = fixtures.footprints(FLAGSHIP_FOOTPRINTS)
    for p in polys:
        p["poly_id"] = p["product_id"]
    matches = oracle.pip_pairs(lat, lon, polys)
    props = {
        "pages": n,
        "rows": len(table),
        "recrawl_share": n_re / n,
        "footprint_hit_share": len({i for i, _ in matches}) / n,
        "html_bytes_mean": float(np.mean([len(h) for h in table["html"]])),
    }
    return {
        "table": table, "url": url, "survivor": survivor, "lat": lat, "lon": lon,
        "polys": polys, "matches": matches, "props": props,
    }


def pages_expected(g: dict) -> dict:
    """What run_flagship must return for ``g``, derived on the driver."""
    texts = {}
    chars = 0
    for i, r in enumerate(g["survivor"]):
        t = expected_text_rich(int(r))
        chars += len(t)
        texts[i] = t
    tile_of = {p["poly_id"]: p["tile_id"] for p in g["polys"]}
    return {
        "n_docs": float(len(g["table"])),
        "n_extracted": float(len(g["survivor"])),
        "corpus_chars": float(chars),
        "n_tile_assignments": float(len(g["matches"])),
        "n_tiles": float(len({tile_of[p] for _, p in g["matches"]})),
        "lineage": [
            (g["url"][i], pid, oracle.sha256_hex(texts[i]),
             int(oracle.eqc_cell(g["lat"][i], g["lon"][i], FLAGSHIP_RES)))
            for i, pid in g["matches"]
        ],
    }


# ---------------------------------------------------------------------------
# spatial_dense
# ---------------------------------------------------------------------------


def _bbox(rings) -> tuple[float, float, float, float, bool]:
    a = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
    lon = a[:, 0]
    wraps = lon.max() - lon.min() > 180.0
    if wraps:
        lon = np.where(lon < 0, lon + 360.0, lon)
    return lon.min(), a[:, 1].min(), lon.max(), a[:, 1].max(), wraps


def spatial(seed: int, n_points: int = 20000) -> dict:
    """Geotagged points within +-1 degree of seeded footprint polygons (the
    polygon set includes concave and antimeridian ones), ``HOT_SHARE`` of
    them packed into one ``SPATIAL_RES`` cell (skew), and two kNN query batches
    mixing dense-region queries with empty-region ones that force ring
    escalation."""
    rng = np.random.default_rng([seed, 2])
    polys = fixtures.footprints(N_POLYS, seed)
    for p in polys:
        p["poly_id"] = p["product_id"]
    boxes = [_bbox(p["rings"]) for p in polys]
    n_hot = int(round(HOT_SHARE * n_points))
    n_norm = n_points - n_hot
    pick = rng.integers(0, N_POLYS, n_norm)
    b = np.array([bx[:4] for bx in boxes])
    lon = rng.uniform(b[pick, 0] - 1.0, b[pick, 2] + 1.0)
    lat = rng.uniform(b[pick, 1] - 1.0, b[pick, 3] + 1.0)
    # hot cell: the SPATIAL_RES cell at the centre of a seeded rectangular polygon
    # (footprints() makes every 10th polygon concave and the 14th antimeridian)
    rects = [i for i in range(N_POLYS) if i % 10 != 7 and i != 13]
    hp = rects[int(rng.integers(0, len(rects)))]
    w = 360.0 / 2 ** (SPATIAL_RES + 1)
    clon = ((b[hp, 0] + b[hp, 2]) / 2 + 180.0) % 360.0 - 180.0
    hx, hy = oracle.eqc_xy(np.array([(b[hp, 1] + b[hp, 3]) / 2]), np.array([clon]), SPATIAL_RES)
    lon = np.concatenate([lon, -180.0 + (hx[0] + rng.uniform(0.05, 0.95, n_hot)) * w])
    lat = np.concatenate([lat, -90.0 + (hy[0] + rng.uniform(0.05, 0.95, n_hot)) * w])
    lon = (lon + 180.0) % 360.0 - 180.0
    lat = np.clip(lat, -89.5, 89.5)
    order = rng.permutation(n_points)
    lat, lon = lat[order], lon[order]
    points = pd.DataFrame({"event_id": np.arange(n_points, dtype=np.int64), "lat": lat, "lon": lon})

    px, py = oracle.eqc_xy(lat, lon, KNN_RES)
    nx = 2 ** (KNN_RES + 1)

    def rounds(a: float, o: float) -> tuple[int, float, int]:
        """knn_kring escalation rounds a query at (a, o) needs: the ring
        doubles until it holds k points and the k-th distance is within the
        ring's guaranteed radius. Also returns the nearest point's km and the
        candidate count of the last ring (-1 rounds: ambiguous query)."""
        d = oracle.haversine_m(a, o, lat, lon)
        qx, qy = oracle.eqc_xy(np.array([a]), np.array([o]), KNN_RES)
        dx = np.abs(px - qx[0])
        dx = np.minimum(dx, nx - dx)
        dy = np.abs(py - qy[0])
        ring, n = KNN_RING, 1
        while n < 8:
            inside = d[(dx <= ring) & (dy <= ring)]
            dk = np.sort(inside)[:KNN_K]
            if len(dk) == KNN_K:
                g = ring_guarantee_m(a, ring, KNN_RES)
                if dk[-1] <= 0.85 * g:
                    return n, float(d.min()) / 1000.0, len(inside)
                if dk[-1] <= g:
                    # too close to the bound: the DataFrame path's
                    # conservative bound may escalate once more
                    return -1, 0.0, 0
            ring, n = ring * 2, n + 1
        return -1, 0.0, 0

    def queries(nq: int, start: int) -> pd.DataFrame:
        """Dense-region queries answered in the first round, and empty-region
        queries (no point within EMPTY_KM) that need exactly
        ``EMPTY_ROUNDS`` rounds, each with at most ``MAX_CANDIDATES`` points in
        its last ring, so every batch escalates the same number of times and
        ranks a bounded candidate set whatever the seed."""
        n_empty = int(round(EMPTY_SHARE * nq))
        qlat: list[float] = []
        qlon: list[float] = []

        def dense() -> tuple[float, float, bool]:
            i = int(rng.integers(0, n_points))
            a, o = lat[i] + rng.uniform(-0.2, 0.2), (lon[i] + rng.uniform(-0.2, 0.2) + 180.0) % 360.0 - 180.0
            n, _, cand = rounds(a, o)
            return a, o, n == 1 and cand <= MAX_CANDIDATES

        def empty() -> tuple[float, float, bool]:
            a, o = rng.uniform(-50.0, 50.0), rng.uniform(-180.0, 180.0)
            n, near_km, cand = rounds(a, o)
            return a, o, n == EMPTY_ROUNDS and near_km > EMPTY_KM and cand <= MAX_CANDIDATES

        for want, draw in ((nq - n_empty, dense), (nq, empty)):
            for _ in range(100_000):
                if len(qlat) == want:
                    break
                a, o, ok = draw()
                if ok:
                    qlat.append(a)
                    qlon.append(o)
            else:
                raise RuntimeError(f"could not place {want - len(qlat)} kNN queries")
        return pd.DataFrame({
            "query_id": np.arange(start, start + nq, dtype=np.int64),
            "qlat": np.clip(qlat, -89.5, 89.5), "qlon": np.array(qlon),
        })

    q_small = queries(N_KNN, 0)
    q_bulk = queries(N_KNN_BULK, 10_000)
    # input properties the spatial layers depend on
    cover = build_covers(polys, SPATIAL_RES, compact=False)
    pcell = oracle.eqc_cell(lat, lon, SPATIAL_RES)
    cov = cover.merge(pd.DataFrame({"cell_id": pcell}), on="cell_id")
    _, counts = np.unique(pcell, return_counts=True)
    matches = oracle.pip_pairs(lat, lon, polys)
    props = {
        "points": n_points,
        "polygons": N_POLYS,
        "candidates": len(cov),
        "boundary_candidate_share": float(cov["is_boundary"].mean()),
        "hot_cell_max_share": float(counts.max() / n_points),
        "pip_hit_share": len(matches) / n_points,
        "knn_queries": N_KNN,
        "knn_bulk_queries": N_KNN_BULK,
        "empty_query_share": EMPTY_SHARE,
        "knn_rounds": EMPTY_ROUNDS,
    }
    return {"points": points, "polys": polys, "q_small": q_small, "q_bulk": q_bulk,
            "matches": matches, "props": props}


# ---------------------------------------------------------------------------
# neardup_corpus
# ---------------------------------------------------------------------------


def _vocab(rng, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(sorted({"".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(size)}))


def corpus(seed: int, n: int = 600) -> dict:
    """ASCII documents with planted near-duplicates: edited copies (a few
    word substitutions), quotes (a document plus one or two extra words, so
    the registry's length blocking pairs them) and one boilerplate family
    sharing a 60-word body (a mega-bucket for every band hash)."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 4000)
    docs = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(25, 70))]) for _ in range(n)]
    perm = rng.permutation(n)
    n_edit, n_quote, n_boil = (int(round(s * n)) for s in (EDIT_SHARE, QUOTE_SHARE, BOILER_SHARE))
    edit_dst = perm[:n_edit]
    quote_dst = perm[n_edit:n_edit + n_quote]
    boil = perm[n_edit + n_quote:n_edit + n_quote + n_boil]
    rest = perm[n_edit + n_quote + n_boil:]
    edit_src = rng.choice(rest, n_edit, replace=False)
    quote_src = rng.choice(np.setdiff1d(rest, edit_src), n_quote, replace=False)
    planted: list[tuple[int, int, str]] = []
    for s, d in zip(edit_src, edit_dst):
        w = docs[s].split(" ")
        for j in rng.choice(len(w), int(rng.integers(1, 3)), replace=False):
            w[j] = vocab[rng.integers(0, len(vocab))]
        docs[d] = " ".join(w)
        planted.append((int(min(s, d)), int(max(s, d)), "edit"))
    for s, d in zip(quote_src, quote_dst):
        docs[d] = docs[s] + " " + " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(1, 3)))])
        planted.append((int(min(s, d)), int(max(s, d)), "quote"))
    body = " ".join(vocab[rng.integers(0, len(vocab), 60)])
    for d in boil:
        docs[d] = body + " " + " ".join(vocab[rng.integers(0, len(vocab), 2)])
    boil = sorted(int(x) for x in boil)
    planted.extend((a, b_, "boiler") for i, a in enumerate(boil) for b_ in boil[i + 1:])
    lang = LANGS[rng.integers(0, len(LANGS), n)]
    # planted pairs are same-language so the registry's (lang, len) blocking sees them
    for a, b_, _ in planted:
        lang[b_] = lang[a]
    table = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": docs,
        "lang": lang,
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    })
    props = {
        "docs": n,
        "planted_neardup_share": (n_edit + n_quote + n_boil) / n,
        "planted_pairs": len(planted),
        "largest_family": n_boil,
        "mean_chars": float(table["n_chars"].mean()),
    }
    return {"table": table, "planted": planted, "props": props}


# ---------------------------------------------------------------------------
# snapshot_ingest
# ---------------------------------------------------------------------------


def snapshot(seed: int, rows: int = 1000) -> dict:
    """Extracted-corpus increments (url, warc_ts, lang, n_chars, text,
    text_sha256) and url-keyed upsert batches, ``UPSERT_OVERLAP`` of whose keys
    already exist in the table (latest wins)."""
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab(rng, 3000)
    next_id = [0]

    def batch(urls: np.ndarray, day: int) -> pd.DataFrame:
        m = len(urls)
        text = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(30, 70))]) for _ in range(m)]
        return pd.DataFrame({
            "url": urls,
            "warc_ts": (BASE_TS + pd.Timedelta(days=day)
                        + pd.to_timedelta(rng.integers(0, 86400, m), unit="s")).to_numpy(),
            "lang": LANGS[rng.integers(0, len(LANGS), m)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
            "text": text,
            "text_sha256": [oracle.sha256_hex(t) for t in text],
        })

    def fresh(m: int) -> np.ndarray:
        ids = np.arange(next_id[0], next_id[0] + m)
        next_id[0] += m
        host = rng.integers(0, 500, m)
        return np.array([f"https://site{h:03d}.example/doc/{i}" for h, i in zip(host, ids)])

    live: dict[str, tuple] = {}
    steps = []
    for k in range(INCREMENTS):
        inc = batch(fresh(rows), k)
        steps.append(("commit", inc))
        live.update({r[0]: r for r in inc.itertuples(index=False)})
    overlaps = []
    for k in range(UPSERTS):
        n_old = int(round(UPSERT_OVERLAP * rows))
        old = rng.choice(np.array(sorted(live)), n_old, replace=False)
        up = batch(np.concatenate([old, fresh(rows - n_old)]), INCREMENTS + k)
        overlaps.append(n_old / rows)
        steps.append(("upsert", up))
        live.update({r[0]: r for r in up.itertuples(index=False)})
    expected = pd.DataFrame(list(live.values()), columns=steps[0][1].columns)
    point_urls = list(rng.choice(np.array(sorted(live)), 2, replace=False))
    props = {
        "rows_per_batch": rows,
        "commits": INCREMENTS,
        "upserts": UPSERTS,
        "upsert_key_overlap": float(np.mean(overlaps)),
        "live_rows": len(expected),
    }
    return {"steps": steps, "expected": expected, "point_urls": point_urls, "props": props}
