"""The incremental-run shuffle economy (round 12, SCALE.md §21c).

The every-cycle production job is run N+1 against run N's archive. The
round-11 rehearsal measured its shuffle growing 21× on 10× data — the
decomposition: the J1 first_seen probe re-exchanged both full sides on
the content-hash id, and the read-time resolver rekey invalidated the
bucketed layout's canonical_id clustering, forcing the assembly and
both D0/D1 hash aggregations to re-shuffle the full statement sets.

The fix, pinned here: the rekey moves BEFORE the versioned write (the
stored clustering is the final canonical one, fingerprinted in the
manifest), the previous version skips its rekey when the fingerprint
proves the identical resolver snapshot, and the J1 probe keys on
(canonical_id, id) rows instead of the raw id alone
— so the bucketed prev side feeds J1, A1 and D0/D1 with ZERO exchanges
and the new statements pay exactly one.
"""

from __future__ import annotations

import json
import os
import re
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from opensanctions_spark.model.melt import finish_statements
from opensanctions_spark.operators.delta import hashed_entities, version_diff
from opensanctions_spark.operators.resolve import (
    canonical_map,
    mapping_fingerprint,
)
from opensanctions_spark.operators.timestamps import propagate_first_seen
from opensanctions_spark.plans.run import (
    Assertion,
    DatasetConfig,
    crawl_dataset,
    export_dataset,
    run_dataset,
    validate_dataset,
)
from opensanctions_spark.sources.archive import StatementArchive


def _executed_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _stmts(spark, rows, dataset="ds"):
    return finish_statements(
        spark.createDataFrame(
            rows, "entity_id string, schema string, prop string, value string"
        ),
        dataset=dataset,
    )


def _mapping(spark):
    decisions = spark.createDataFrame(
        [("p1", "p3", "POSITIVE")],
        "left_id string, right_id string, judgement string",
    )
    return canonical_map(decisions)


ROWS_V1 = [
    ("p1", "Person", "name", "Alice"),
    ("p3", "Person", "name", "Alice A."),
    ("p2", "Person", "name", "Bob"),
]
ROWS_V2 = ROWS_V1 + [("p9", "Person", "name", "Carol")]


def test_bucketed_incremental_run_end_to_end(spark, tmp_path):
    """Two bucketed runs under the same resolver map: the manifest
    records the map fingerprint, the stored canonical ids are the
    REKEYED ones (p3 rows cluster under p1), and the delta sees only
    the real change."""
    archive = StatementArchive(
        spark, str(tmp_path / "arch"), bucket_statements=True, n_buckets=4
    )
    mapping = _mapping(spark)
    config = DatasetConfig(name="fx")

    run_dataset(
        spark, _stmts(spark, ROWS_V1), config, archive,
        str(tmp_path / "o1"), run_time="2026-08-01T00:00:00",
        version="20260801-000000", canonical_map=mapping, single_file=False,
    )
    fp = mapping_fingerprint(mapping)
    assert archive.canonical_fp("fx", "20260801-000000") == fp
    stored = archive.read("fx", version="20260801-000000")
    assert {
        r["canonical_id"]
        for r in stored.filter(F.col("entity_id") == "p3").collect()
    } == {"p1"}

    r2 = run_dataset(
        spark, _stmts(spark, ROWS_V2), config, archive,
        str(tmp_path / "o2"), run_time="2026-08-13T00:00:00",
        version="20260813-000000", canonical_map=mapping, single_file=False,
    )
    assert r2.delta_ops == {"ADD": 1}
    # J1 carried first_seen for every statement present in v1
    curr = archive.read("fx", version="20260813-000000")
    carried = curr.filter(F.col("entity_id").isin("p1", "p2", "p3"))
    assert {r["first_seen"] for r in carried.collect()} == {
        "2026-08-01T00:00:00"
    }
    assert {
        r["first_seen"]
        for r in curr.filter(F.col("entity_id") == "p9").collect()
    } == {"2026-08-13T00:00:00"}


def test_propagate_first_seen_cluster_path_matches_id_path(spark):
    """The canonical_id-keyed J1 probe is value-identical to the
    id-keyed join on map-consistent sides."""
    prev = _stmts(spark, ROWS_V1).withColumn(
        "first_seen", F.lit("2026-08-01T00:00:00")
    )
    curr = _stmts(spark, ROWS_V2).drop("first_seen")
    a = propagate_first_seen(
        curr, prev.select("canonical_id", "id", "first_seen"),
        run_time="2026-08-13T00:00:00",
    )
    b = propagate_first_seen(
        curr, prev.select("canonical_id", "id", "first_seen"),
        run_time="2026-08-13T00:00:00", cluster_col="canonical_id",
    )
    key = lambda r: (r["id"], r["first_seen"])
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def test_incremental_probe_and_diff_ride_bucket_clustering(spark, tmp_path):
    """Plan gate: with both versions bucketed on canonical_id,

    - the J1 cluster probe exchanges ONLY the current side (one
      hashpartitioning exchange, on canonical_id — never on id), and
    - the D0/D1 hash diff (two groupBys + one full-outer join) runs
      with ZERO exchanges.
    """
    archive = StatementArchive(
        spark, str(tmp_path / "arch"), bucket_statements=True, n_buckets=4
    )
    prev_stmts = _stmts(spark, ROWS_V1).withColumn(
        "first_seen", F.lit("2026-08-01T00:00:00")
    )
    archive.write(prev_stmts, "fx", "20260801-000000")
    curr_stmts = _stmts(spark, ROWS_V2).withColumn(
        "first_seen", F.lit("2026-08-13T00:00:00")
    )
    archive.write(curr_stmts, "fx", "20260813-000000")
    prev = archive.read("fx", version="20260801-000000")
    curr_fresh = _stmts(spark, ROWS_V2).drop("first_seen")

    # disable auto-broadcast: at production scale the prev index is far
    # over the threshold, so the gate must hold for the sort-merge shape
    # (at test scale AQE would broadcast the 3-row side and trivially
    # show zero exchanges)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probed = propagate_first_seen(
            curr_fresh, prev.select("canonical_id", "id", "first_seen"),
            run_time="2026-08-13T00:00:00", cluster_col="canonical_id",
        )
        plan = _executed_plan(probed)
        n_hash = plan.count("Exchange hashpartitioning")
        assert n_hash == 1, (
            f"J1 cluster probe must exchange only the new side:\n{plan}"
        )
        assert "Exchange hashpartitioning(id" not in plan.replace(
            "canonical_id", "CANON"
        ), f"J1 must never exchange on the content-hash id:\n{plan}"

        curr = archive.read("fx", version="20260813-000000")
        diff = version_diff(hashed_entities(prev), hashed_entities(curr))
        plan = _executed_plan(diff)
        assert "Exchange hashpartitioning" not in plan, (
            f"bucketed D0/D1 diff must be exchange-free:\n{plan}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_fingerprint_mismatch_rekeys_prev(spark, tmp_path):
    """A resolver snapshot that CHANGED between runs still rekeys the
    previous version (correctness beats the clustering fast path): a
    merge added in run 2 must not surface as a DEL of the merged id."""
    archive = StatementArchive(
        spark, str(tmp_path / "arch"), bucket_statements=True, n_buckets=4
    )
    config = DatasetConfig(name="fx")
    # run 1: no resolver
    run_dataset(
        spark, _stmts(spark, ROWS_V1), config, archive,
        str(tmp_path / "o1"), run_time="2026-08-01T00:00:00",
        version="20260801-000000", single_file=False,
    )
    assert archive.canonical_fp("fx", "20260801-000000") is None
    # run 2: the p1=p3 merge appears; identical source rows
    r2 = run_dataset(
        spark, _stmts(spark, ROWS_V1), config, archive,
        str(tmp_path / "o2"), run_time="2026-08-13T00:00:00",
        version="20260813-000000", canonical_map=_mapping(spark),
        single_file=False,
    )
    # prev rekeyed through the new map: p3 collapses into p1 on BOTH
    # sides, so the merged view is content-identical and the delta is
    # EMPTY — without the rekey the stale prev side would have emitted
    # a spurious DEL p3 + MOD p1 (the round-11 rehearsal bug)
    assert r2.delta_ops == {}
    assert r2.entity_count == 2


def test_mapless_run_after_resolver_run_warns(spark, tmp_path):
    """Dropping the resolver between runs is surfaced as an issue: the
    previous version stores merged canonical ids the mapless run cannot
    unmerge."""
    archive = StatementArchive(spark, str(tmp_path / "arch"))
    config = DatasetConfig(name="fx")
    run_dataset(
        spark, _stmts(spark, ROWS_V1), config, archive,
        str(tmp_path / "o1"), run_time="2026-08-01T00:00:00",
        version="20260801-000000", canonical_map=_mapping(spark),
        single_file=False,
    )
    run_dataset(
        spark, _stmts(spark, ROWS_V1), config, archive,
        str(tmp_path / "o2"), run_time="2026-08-13T00:00:00",
        version="20260813-000000", single_file=False,
    )
    with open(os.path.join(str(tmp_path / "o2"), "issues.json")) as fh:
        issues = json.load(fh)["issues"]
    assert any("resolver map" in i["message"] for i in issues)


def test_version_overwrite_clears_stale_fingerprint(spark, tmp_path):
    """Re-writing an existing version id WITHOUT a resolver must drop
    the old fingerprint — a stale entry would attest a rekey the new
    files don't have, and the next run's fast path would skip a needed
    prev rekey. Promotion (mark_successful) must NOT touch it."""
    archive = StatementArchive(spark, str(tmp_path / "arch"))
    stmts = _stmts(spark, ROWS_V1).withColumn(
        "first_seen", F.lit("2026-08-01T00:00:00")
    )
    archive.write(stmts, "fx", "20260801-000000", canonical_fp="5:123")
    assert archive.canonical_fp("fx", "20260801-000000") == "5:123"
    # promotion-only record keeps it
    archive.mark_successful("fx", "20260801-000000")
    assert archive.canonical_fp("fx", "20260801-000000") == "5:123"
    # data-overwriting write without a map clears it
    archive.write(stmts, "fx", "20260801-000000")
    assert archive.canonical_fp("fx", "20260801-000000") is None


def test_compact_carries_fingerprint_forward(spark, tmp_path):
    """compact() rewrites byte-identical data into a NEW version — the
    source's resolver fingerprint stays true and must carry over."""
    archive = StatementArchive(spark, str(tmp_path / "arch"))
    stmts = _stmts(spark, ROWS_V1).withColumn(
        "first_seen", F.lit("2026-08-01T00:00:00")
    )
    # many small files so the compactor has something to do
    archive.write(
        stmts.repartition(8), "fx", "20260801-000000", canonical_fp="5:123"
    )
    new_version = archive.compact("fx", target_bytes=1 << 30)
    if new_version is not None:
        assert archive.canonical_fp("fx", new_version) == "5:123"


def test_crawl_after_failed_first_run(spark, tmp_path):
    """A first run that aborts on a fatal assertion leaves a pending
    version and no successful one. A crawl into the same archive then
    has no previous version to propagate first_seen from: it must stamp
    every row with its own run time, not fail on the pending version."""
    archive = StatementArchive(spark, str(tmp_path / "arch"))
    config = DatasetConfig(
        name="fx", assertions=[Assertion("entity_count", "min", 100)]
    )
    with pytest.raises(AssertionError, match="entity_count"):
        run_dataset(
            spark, _stmts(spark, ROWS_V1), config, archive,
            str(tmp_path / "o1"), run_time="2026-08-01T00:00:00",
            version="20260801-000000",
        )
    assert archive.latest("fx") == "20260801-000000"
    assert archive.last_successful("fx") is None

    version = crawl_dataset(
        spark, _stmts(spark, ROWS_V2), "fx", archive,
        run_time="2026-08-13T00:00:00", version="20260813-000000",
    )
    stamped = archive.read("fx", version=version, external=True)
    assert {r["first_seen"] for r in stamped.collect()} == {
        "2026-08-13T00:00:00"
    }


def _output_files(out_dir: str) -> dict[str, bytes]:
    """Every file under an output dir by relative path → bytes; Spark's
    per-job UUID is stripped from part-file names so two writes of the
    same rows compare equal."""
    files = {}
    for root, _, names in os.walk(out_dir):
        for n in names:
            path = os.path.join(root, n)
            rel = os.path.relpath(path, out_dir)
            with open(path, "rb") as fh:
                files[re.sub(r"(part-\d+)-[0-9a-f-]{36}", r"\1", rel)] = fh.read()
    return files


def test_run_matches_staged_lifecycle(spark, tmp_path):
    """``run_dataset`` and crawl → validate → export are one mechanism:
    over two versions they agree on every count and on every output
    file. Only ``run.json`` and ``issues.json`` are the run's own. The
    two lifecycles touch disjoint archives and output dirs, so each
    version's pair runs concurrently on the shared session (each export
    is bound by per-job latency, not by the 3-entity input)."""
    config = DatasetConfig(name="fx", assertions=[])
    fused = StatementArchive(spark, str(tmp_path / "fused"))
    staged = StatementArchive(spark, str(tmp_path / "staged"))

    def run(rows, version, run_time, out):
        return run_dataset(spark, _stmts(spark, rows), config, fused, out,
                           run_time=run_time, version=version)

    def stage(rows, version, run_time, out):
        crawl_dataset(spark, _stmts(spark, rows), "fx", staged,
                      run_time=run_time, version=version)
        report = validate_dataset(spark, staged, "fx", version=version)
        export = export_dataset(spark, staged, "fx", out,
                                run_time=run_time, version=version)
        return report, export

    for rows, version, run_time in (
        (ROWS_V1, "20260801-000000", "2026-08-01T00:00:00"),
        (ROWS_V2, "20260813-000000", "2026-08-13T00:00:00"),
    ):
        run_out = str(tmp_path / "run" / version)
        stage_out = str(tmp_path / "stage" / version)
        with ThreadPoolExecutor(2) as pool:
            ran = pool.submit(run, rows, version, run_time, run_out)
            stages = pool.submit(stage, rows, version, run_time, stage_out)
            result = ran.result(timeout=600)
            report, export = stages.result(timeout=600)

        assert (result.entity_count, result.target_count,
                result.schema_counts) == (
            report["entity_count"], report["target_count"],
            report["schema_counts"],
        )
        assert result.delta_ops == export["delta_ops"]
        assert result.export_counts == export["export_counts"]
        run_files = _output_files(run_out)
        assert {"run.json", "issues.json"} <= set(run_files)
        del run_files["run.json"], run_files["issues.json"]
        assert run_files == _output_files(stage_out)
    assert result.delta_ops == {"ADD": 1}
    assert "delta_index.json" in run_files
