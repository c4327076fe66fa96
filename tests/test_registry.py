"""Registry integrity: naming, uniqueness, and — most usefully for
future rounds — that every oracle SQL still COMPILES in DuckDB against
the fixture views (catches typos/dialect drift without running data)."""

import json
import os
import re
import shutil
from types import SimpleNamespace

import duckdb

from dynamodb_pitr_restore_cdc_spark import evidence
from dynamodb_pitr_restore_cdc_spark.registry import all_queries
from dynamodb_pitr_restore_cdc_spark.sources.fixtures import TABLES

SPECS = all_queries()
SF = "/root/testdata/sf0.001"


def test_names_are_wellformed_and_unique():
    assert len(SPECS) == len(set(SPECS))
    for name in SPECS:
        assert re.fullmatch(r"q_[a-z0-9_]+", name), name


def test_every_oracle_compiles_in_duckdb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    bad = []
    for name, spec in SPECS.items():
        if spec.oracle is None:
            continue
        try:
            con.execute(f"EXPLAIN {spec.oracle}")
        except Exception as e:  # noqa: BLE001 - collecting all failures
            bad.append((name, str(e).splitlines()[0]))
    assert not bad, bad


def test_builders_have_docstrings():
    missing = [n for n, s in SPECS.items() if not (s.builder.__doc__ or "").strip()]
    assert not missing, missing


def test_bench_headline_queries_exist():
    # bench.py's one-line summary must only name registered queries
    import bench

    assert set(bench.HEADLINE) <= set(SPECS)


def test_release_persisted_frees_builder_caches(spark):
    """The round-2 leak class: builder-side persist/cache that outlives
    its run. Every persist in these builders must go through
    tracked_persist, so running them + release_persisted() leaves the
    session's persistent-RDD set no larger than before. (Queries using
    localCheckpoint are excluded — those RDDs are freed by the
    ContextCleaner on GC, not by unpersist.)"""
    from dynamodb_pitr_restore_cdc_spark.registry import release_persisted

    names = [
        "q_llm_jaccard_exact",
        "q_llm_simhash_pairs",
        "q_llm_near_dedup",
        "q_llm_dedup_clusters",
        "q_llm_embed_neardup",
        "q_scan_json_source",
        "q_sink_roundtrip",
    ]
    # warm the per-corpus artifacts first: the LSH band store and the
    # IVF index (whose trainer localCheckpoints the centroids) are
    # SESSION-lifetime by design — build them before measuring so the
    # loop below exercises only per-run builder caches
    from dynamodb_pitr_restore_cdc_spark.llm.dedup import band_buckets
    from dynamodb_pitr_restore_cdc_spark.llm.similarity import _cell_members

    band_buckets(spark, SF)
    _cell_members(spark, SF)
    release_persisted()  # start from a clean tracked list
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for n in names:
        df = SPECS[n].builder(spark, SF)
        df.write.format("noop").mode("overwrite").save()
        release_persisted()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"persist leak: {before} cached RDDs before, {after} after"


# ---- driver-window rotation (evidence.rotation) --------------------------

GREEN = {"hash_match": True, "err": None}
RED = {"hash_match": None, "err": "FileNotFoundError: no manifest"}
NO_ORACLE = {"hash_match": None, "err": "no_oracle"}


def _record(root, rnd, rows):
    with open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json"), "w") as fh:
        json.dump(rows, fh)


def test_rotation_never_lets_evidence_age_past_5(tmp_path, monkeypatch):
    """Six simulated driver rounds on the committed evidence: each runs
    the first WINDOW entries of all_queries() green and commits its
    JSON, nothing else changes.  Seeds lapse by themselves, and no
    oracled query's newest row may fall more than 5 rounds behind (the
    scripts/evidence_report.py gate)."""
    for fn in os.listdir(evidence.EVIDENCE_DIR):
        if fn.startswith("CORRECTNESS_r"):
            shutil.copy(os.path.join(evidence.EVIDENCE_DIR, fn), tmp_path)
    monkeypatch.setattr(evidence, "EVIDENCE_DIR", str(tmp_path))
    first = max(evidence.correctness_rounds(str(tmp_path))) + 1
    oracled = [n for n, s in SPECS.items() if s.oracle is not None]
    for rnd in range(first, first + 6):
        window = list(all_queries())[: evidence.WINDOW]
        _record(
            tmp_path,
            rnd,
            {n: GREEN if SPECS[n].oracle else NO_ORACLE for n in window},
        )
        rounds = evidence.correctness_rounds(str(tmp_path))
        newest = {n: max(r for r, s in rounds.items() if n in s) for n in oracled}
        stale = {n: rnd - r for n, r in newest.items() if rnd - r > 5}
        assert not stale, f"r{rnd}: {stale}"


def test_committed_round_lapses_a_seed(tmp_path):
    specs = {n: SimpleNamespace(oracle="SELECT 1") for n in ("q_a", "q_b", "q_c")}
    _record(tmp_path, 1, {"q_a": GREEN, "q_b": GREEN})
    _record(tmp_path, 2, {"q_c": GREEN})
    seeds = {"q_c": 2}  # q_c changed after round 2 ran
    assert evidence.rotation(specs, seeds, str(tmp_path)) == ["q_c", "q_a", "q_b"]
    _record(tmp_path, 3, {"q_c": GREEN})  # the next round verifies it
    assert evidence.rotation(specs, seeds, str(tmp_path)) == ["q_a", "q_b", "q_c"]


def test_red_row_does_not_refresh_age(tmp_path):
    specs = {n: SimpleNamespace(oracle="SELECT 1") for n in ("q_a", "q_b", "q_red")}
    _record(tmp_path, 1, {"q_red": GREEN})
    _record(tmp_path, 2, {"q_a": GREEN, "q_b": GREEN})
    _record(tmp_path, 3, {"q_red": RED, "q_a": GREEN})
    assert evidence.last_verified(str(tmp_path)) == {"q_red": 1, "q_a": 3, "q_b": 2}
    assert evidence.rotation(specs, {}, str(tmp_path)) == ["q_red", "q_b", "q_a"]
    # ...while the staleness gate still counts the red row as reached
    assert "q_red" in evidence.correctness_rounds(str(tmp_path))[3]


def test_rows_only_query_stays_last(tmp_path):
    specs = {
        "q_rows": SimpleNamespace(oracle=None),
        "q_a": SimpleNamespace(oracle="SELECT 1"),
        "q_b": SimpleNamespace(oracle="SELECT 1"),
    }
    _record(tmp_path, 1, {"q_a": GREEN})
    _record(tmp_path, 2, {"q_b": GREEN})
    # never verified and even seeded, it still yields every oracled slot
    seeds = {"q_rows": 2}
    assert evidence.rotation(specs, seeds, str(tmp_path)) == ["q_a", "q_b", "q_rows"]
    _record(tmp_path, 3, {"q_rows": NO_ORACLE, "q_a": GREEN})
    assert evidence.rotation(specs, seeds, str(tmp_path)) == ["q_b", "q_a", "q_rows"]


def test_rotation_without_evidence_files(tmp_path):
    specs = {n: SimpleNamespace(oracle="SELECT 1") for n in ("q_a", "q_b", "q_c")}
    specs["q_rows"] = SimpleNamespace(oracle=None)
    missing = str(tmp_path / "absent")
    assert evidence.rotation(specs, {}, missing) == ["q_a", "q_b", "q_c", "q_rows"]
    assert evidence.rotation(specs, {"q_c": 16}, missing) == [
        "q_c",
        "q_a",
        "q_b",
        "q_rows",
    ]
    assert evidence.rotation(specs, {"q_c": 16}, str(tmp_path)) == [
        "q_c",
        "q_a",
        "q_b",
        "q_rows",
    ]
