"""Meta-guards on the query catalog and the driver rotation order."""

from __future__ import annotations

from opensanctions_spark.catalog import ORACLES, QUERIES, driver_rotation


def test_every_query_has_an_oracle():
    """The driver's correctness gate records a weaker rows-only check for
    oracle-less queries; this engine ships an oracle for every single
    query — keep it that way."""
    missing = sorted(set(QUERIES) - set(ORACLES))
    assert not missing, f"queries without oracle SQL: {missing}"


def _last_passing_round(root) -> dict[str, int]:
    """Each query's last round with a fully passing CORRECTNESS row."""
    import json
    import re

    last: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        for name, row in json.loads(path.read_text()).items():
            if all(row[k] for k in ("rows_match", "schema_match", "hash_match")):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def test_driver_records_the_priority_head():
    """The driver checks the FIRST 50 ``queries()`` entries. Against the
    shipped CORRECTNESS_r*.json history, those must be the 50 least
    recently verified queries (never-verified ones first), with ties in
    registration order — which ORACLES keeps, since register() fills it
    and the rotation reorders QUERIES only."""
    from pathlib import Path

    last = _last_passing_round(Path(__file__).resolve().parent.parent)
    if not last:  # fresh clone without driver artifacts — nothing to pin
        return
    order = list(QUERIES)
    head, rest = order[:50], order[50:]
    stalest_outside = min(last.get(n, 0) for n in rest)
    stale_left_out = [n for n in head if last.get(n, 0) > stalest_outside]
    assert not stale_left_out, (
        f"{stale_left_out} hold head slots while a query last verified in "
        f"round {stalest_outside} waits below the line"
    )
    registration = {n: i for i, n in enumerate(ORACLES)}
    for a, b in zip(order, order[1:]):
        if last.get(a, 0) == last.get(b, 0):
            assert registration[a] < registration[b], (
                f"{a} and {b} share round {last.get(a, 0)} but are out of "
                "registration order"
            )


def test_driver_rotation_on_a_synthetic_history(tmp_path):
    """A name whose only row failed counts as never verified and leads;
    names verified in the same round keep the given (registration)
    order; files not named CORRECTNESS_r<NN>.json are ignored."""
    import json

    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    bad_hash = dict(ok, hash_match=False)
    history = {
        "CORRECTNESS_r01.json": {"c": ok, "d": ok, "b": ok},
        "CORRECTNESS_r02.json": {"a": bad_hash, "c": ok},
        "CORRECTNESS_r02_c8.json": {"d": ok, "b": ok},
    }
    for fname, rows in history.items():
        (tmp_path / fname).write_text(json.dumps(rows))
    paths = sorted(tmp_path.iterdir())
    assert driver_rotation(["a", "b", "c", "d"], paths) == ["a", "b", "d", "c"]
    assert driver_rotation(["d", "c", "b", "a"], paths) == ["a", "d", "b", "c"]
    assert driver_rotation(["b", "a"], []) == ["b", "a"]


def test_relation_cache_and_invalidation(spark, tmp_path):
    """catalog.load caches resolved relations per (session, dir, table);
    overwriting a loaded path requires invalidate_relations (the
    documented writer contract)."""
    from opensanctions_spark.catalog import invalidate_relations, load

    p = str(tmp_path)
    spark.createDataFrame([(1,)], "n_nationkey long").write.parquet(
        f"{p}/nation.parquet"
    )
    df1 = load(spark, p, "nation")
    assert df1.count() == 1
    # cached: same plan object back, no re-listing
    assert load(spark, p, "nation") is df1
    spark.createDataFrame([(1,), (2,)], "n_nationkey long").write.mode(
        "overwrite"
    ).parquet(f"{p}/nation.parquet")
    invalidate_relations(spark)
    df2 = load(spark, p, "nation")
    assert df2 is not df1
    assert df2.count() == 2


def test_coverage_doc_query_count_matches_registry():
    """COVERAGE.md's headline catalog-query count must track the live
    registry (VERDICT r8 task 7 — the doc drifted 158→198 unnoticed;
    this pins it to len(QUERIES))."""
    import re
    from pathlib import Path

    from opensanctions_spark.catalog import ORACLES, QUERIES

    text = Path(__file__).resolve().parent.parent.joinpath(
        "COVERAGE.md"
    ).read_text()
    m = re.search(r"\*\*(\d+) catalog queries", text)
    assert m is not None, "COVERAGE.md headline count missing"
    assert int(m.group(1)) == len(QUERIES), (
        f"COVERAGE.md says {m.group(1)} catalog queries; "
        f"registry has {len(QUERIES)}"
    )
    # the 'ALL with DuckDB value-check oracles' claim stays true
    assert set(QUERIES) == set(ORACLES)


def test_never_driver_checked_queries_lead_the_head():
    """Any query with ZERO lifetime driver correctness rows (computed from
    the shipped CORRECTNESS_r*.json history) must sit inside the head-50,
    or it stays unverified for another full round."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: set[str] = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(path) as f:
            seen.update(json.load(f))
    if not seen:  # fresh clone without driver artifacts — nothing to pin
        return
    never = [n for n in QUERIES if n not in seen]
    head = set(list(QUERIES)[:50])
    stragglers = [n for n in never if n not in head]
    assert not stragglers, (
        f"queries with no lifetime driver row are staged BELOW the "
        f"head-50: {stragglers}"
    )
