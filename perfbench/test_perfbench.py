"""Self-tests of the benchmark: seeded inputs are reproducible and keep
their properties across seeds, the driver-side oracles agree with simple
reference forms, and no timed action lets Catalyst prune the work the
operation names. Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os
import random
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle  # noqa: E402

GENERATORS = {
    "pages": lambda s: gen.pages(s, n=600),
    "spatial": lambda s: gen.spatial(s, n_points=4000),
    "corpus": lambda s: gen.corpus(s, n=400),
    "snapshot": lambda s: gen.snapshot(s, rows=300),
}


def _tables(g: dict) -> dict:
    return {k: v for k, v in g.items() if k != "props"}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_gives_byte_identical_inputs(name):
    a, b = GENERATORS[name](7), GENERATORS[name](7)
    assert gen.digest(_tables(a)) == gen.digest(_tables(b))
    assert gen.digest(_tables(a)) != gen.digest(_tables(GENERATORS[name](8)))


# absolute tolerance on each measured share between two seeds
PROP_TOLERANCE = {
    "recrawl_share": 0.0,
    "footprint_hit_share": 0.04,
    "boundary_candidate_share": 0.10,
    "hot_cell_max_share": 0.02,
    "pip_hit_share": 0.10,
    "planted_neardup_share": 0.0,
    "upsert_key_overlap": 0.0,
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_other_seed_keeps_input_properties(name):
    pa, pb = GENERATORS[name](7)["props"], GENERATORS[name](8)["props"]
    checked = [k for k in PROP_TOLERANCE if k in pa]
    assert checked
    for k in checked:
        assert abs(pa[k] - pb[k]) <= PROP_TOLERANCE[k], (k, pa[k], pb[k])


def test_levenshtein_matches_dynamic_programming():
    rnd = random.Random(3)
    for _ in range(300):
        a = "".join(rnd.choice("ab c") for _ in range(rnd.randint(0, 40)))
        b = "".join(rnd.choice("ab c") for _ in range(rnd.randint(0, 40)))
        row = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, row[0] = row[0], i
            for j, cb in enumerate(b, 1):
                prev, row[j] = row[j], min(row[j] + 1, row[j - 1] + 1, prev + (ca != cb))
        assert oracle.levenshtein(a, b) == row[-1]


def test_brute_force_pip_handles_antimeridian_polygon():
    ring = [[177.0, -10.0], [-177.0, -10.0], [-177.0, -2.0], [177.0, -2.0]]
    lat = [-5.0, -5.0, -5.0, 5.0]
    lon = [179.0, -179.0, 0.0, 179.0]
    assert oracle.polygon_contains(lat, lon, [ring]).tolist() == [True, True, False, False]


# ---------------------------------------------------------------------------
# plan test: the timed action keeps the op's work
# ---------------------------------------------------------------------------

_WORK_FUNCS = {"regexp_replace", "sha2", "xxhash64", "md5", "levenshtein", "array_intersect",
               "array_union", "array_distinct", "zip_with"}


def _work(df) -> set[str]:
    """Python UDFs plus extractor/hash/similarity functions in the optimized plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    found = {f for f in re.findall(r"\b([a-z_][a-z0-9_]*)\(", plan) if f in _WORK_FUNCS}
    for line in plan.splitlines():
        if "EvalPython" in line:
            found |= {f"udf:{u}" for u in re.findall(r"\b(\w+)\(", line.split("EvalPython", 1)[1])}
    return found


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from copernicusdata_jl_spark.session import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh")),
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.mark.parametrize("name", ["spatial_dense", "corpus_dedup_store"])
def test_timed_action_keeps_every_udf_extractor_and_hash(spark, tmp_path, name, monkeypatch):
    from perfbench import workloads as W

    monkeypatch.setattr(gen, "spatial", lambda s, _f=gen.spatial: _f(s, n_points=3000))
    monkeypatch.setattr(gen, "snapshot", lambda s, _f=gen.snapshot: _f(s, rows=200))
    monkeypatch.setattr(gen, "corpus", lambda s, _f=gen.corpus: _f(s, n=200))
    # the flagship part has no digest action: run_flagship makes its own writes
    wl = {"spatial_dense": W.SpatialDense, "corpus_dedup_store": W.CorpusDedupStore}[name](spark, 1, str(tmp_path))
    wl.generate()
    wl.ingest(0)
    planned = 0
    for op in wl.cycle():
        if op.plan is None:  # the action writes or collects the op's full output
            op.run()  # later ops read the state earlier ones write
            continue
        full, timed = op.plan()
        missing = _work(full) - _work(timed)
        assert not missing, f"{name}/{op.name}: timed action prunes {sorted(missing)}"
        timed_plan = timed._jdf.queryExecution().optimizedPlan().toString()
        unread = [c for c in full.columns if not re.search(rf"\b{c}#", timed_plan)]
        assert not unread, f"{name}/{op.name}: timed action never reads {unread}"
        planned += 1
    assert planned


def test_plan_check_detects_count_pruning(spark, tmp_path, monkeypatch):
    """Negative control: a count() over the snapshot read drops the row
    hashes the digest action keeps."""
    from perfbench import workloads as W

    monkeypatch.setattr(gen, "snapshot", lambda s, _f=gen.snapshot: _f(s, rows=200))
    wl = W.SnapshotIngest(spark, 1, str(tmp_path))
    wl.generate()
    wl.ingest(0)
    for op in wl.cycle()[:2]:
        op.run()
    full = W.digest_df(wl._scan_df(), wl.COLS)
    assert "xxhash64" in _work(full)
    assert "xxhash64" not in _work(full.groupBy().count())


def test_spatial_join_plan_keeps_the_pip_udf(spark, tmp_path, monkeypatch):
    from perfbench import workloads as W

    monkeypatch.setattr(gen, "spatial", lambda s, _f=gen.spatial: _f(s, n_points=3000))
    wl = W.SpatialDense(spark, 1, str(tmp_path))
    wl.generate()
    wl.ingest(0)
    full, timed = next(op for op in wl.cycle() if op.name == "spatial_join").plan()
    assert any(w.startswith("udf:") for w in _work(timed))


def test_neardup_checks_fail_on_missing_planted_pairs(monkeypatch):
    """Negative control: the near-dup checks pass the exact planted pairs but
    fail an empty result and one that loses a kind of planted pair."""
    from perfbench import workloads as W

    monkeypatch.setattr(gen, "corpus", lambda s, _f=gen.corpus: _f(s, n=300))
    wl = W.NeardupCorpus(None, 1, "")
    wl.generate()
    planted = wl.g["planted"]
    mh = [{"id_a": a, "id_b": b, "jaccard": oracle.jaccard(wl.sh[a], wl.sh[b]), "kind": k} for a, b, k in planted
          if oracle.jaccard(wl.sh[a], wl.sh[b]) >= W.MINHASH_THRESHOLD]
    fz = [{"id_a": a, "id_b": b, "dist": wl._lev(a, b), "kind": k} for a, b, k in planted
          if wl._lev(a, b) <= W.FUZZY_MAX_DIST]
    for check, rows in ((wl._check_minhash, mh), (wl._check_fuzzy, fz)):
        assert check(rows) is None
        assert check([])
        assert check([r for r in rows if r["kind"] != "edit"])
    assert wl.stats["minhash_recall"] == wl.stats["fuzzy_recall"] == 1.0
