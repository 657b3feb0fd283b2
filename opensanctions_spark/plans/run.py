"""The dataset lifecycle — crawl, validate, export — and the run that
composes them (``zavod/zavod/cli/etl.py:24-154``). Each stage body is
written once, as a private helper the public stages and ``run_dataset``
share:

1. ``_stamp`` (crawl): datapatch lookups, seen timestamps, the resolver
   rekey and first_seen from the previous successful version (J1,
   ``zavod/zavod/runtime/timestamps.py``), then one versioned archive
   write (the statements.pack analogue),
2. ``_entity_view``: a version read back, rekeyed (``_rekey``) and
   assembled (A1) — persisted once,
3. ``_validate``: assertion thresholds with fatal-min semantics (A12,
   ``zavod/zavod/validators/assertions.py:24-183``) + dangling-reference
   anti-join (J10, ``zavod/zavod/validators/__init__.py:15-27``),
4. every exporter off the shared scan (§2.2), then ``_write_delta``:
   ADD/MOD/DEL vs a baseline version (D0/D1) + the delta index.

``run_dataset`` runs all four over ONE persisted entity view (the public
stages each assemble their own). It writes its version pending and
promotes it only after export, so a fatal assertion never advances the
backfill pointer. The reference's LevelDB store-sync between crawl and
export *is* the assembly shuffle here — no separate materialization.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opensanctions_spark.exporters import export_all, prop_values, target_flag
from opensanctions_spark.exporters.metadata import write_delta_index, write_issues
from opensanctions_spark.model.registry import ENTITY_PROPS
from opensanctions_spark.operators.assembly import assemble_entities
from opensanctions_spark.operators.delta import (
    delta_export_rows,
    hashed_entities,
    version_diff,
)
from opensanctions_spark.operators.resolve import apply_canonical, mapping_fingerprint
from opensanctions_spark.operators.timestamps import propagate_first_seen
from opensanctions_spark.sources.archive import StatementArchive


@dataclass
class Assertion:
    metric: str          # e.g. "entity_count", "schema:Person", "country:de",
                         # "countries", "prop:Company.name", "fill:Person.name"
    op: str              # "min" | "max"
    threshold: float     # int for counts, float for fill rates
    level: str = "error"  # "error" (fatal) | "warning"


#: Baseline assertions merged into every dict-form dataset config, leaf-
#: overridable by the dataset's own block (the reference's
#: DEFAULT_ASSERTIONS, ``zavod/zavod/meta/dataset.py:40-53``).
#: ``property_fill_rate`` only applies to schemata the dataset actually
#: emits — check_assertions skips absent schemata.
DEFAULT_ASSERTIONS: dict = {
    "min": {
        "property_fill_rate": {
            "Person": {"name": 0.95},
            "LegalEntity": {"name": 0.95},
            "Organization": {"name": 0.95},
            "Company": {"name": 0.95},
        }
    }
}

#: Reference metric vocabulary (``zavod/zavod/meta/assertion.py``) → the
#: flat metric-string families check_assertions evaluates.
_ASSERTION_METRICS = {
    "entity_count", "schema_entities", "country_entities", "countries",
    "entities_with_prop", "property_fill_rate",
}


def merge_assertions_config(base: dict, override: dict) -> dict:
    """Deep-merge two assertion config dicts, override winning at the
    leaf (``zavod/zavod/meta/assertion.py merge_assertions_config``)."""
    from copy import deepcopy

    result = deepcopy(base)
    for key, value in override.items():
        existing = result.get(key)
        if isinstance(existing, dict) and isinstance(value, dict):
            result[key] = merge_assertions_config(existing, value)
        else:
            result[key] = deepcopy(value)
    return result


def parse_assertions(config: dict) -> list[Assertion]:
    """Reference YAML assertion block → flat Assertion rows
    (``zavod/zavod/meta/assertion.py parse_assertions`` + the
    validator's level rule: only min/GTE failures abort, max/LTE
    failures warn — ``validators/assertions.py is_assertion_fatal``).
    Unknown comparisons or metrics raise ValueError, like the
    reference's Enum lookups."""
    out: list[Assertion] = []
    for key, metrics in config.items():
        if key == "min":
            level = "error"
        elif key == "max":
            level = "warning"
        else:
            raise ValueError(f"Unknown assertion: {key}")
        for metric, mconf in metrics.items():
            if metric not in _ASSERTION_METRICS:
                raise ValueError(f"Unknown metric: {metric}")
            if metric == "entity_count":
                out.append(Assertion("entity_count", key, mconf, level))
            elif metric == "countries":
                out.append(Assertion("countries", key, mconf, level))
            elif metric == "schema_entities":
                for schema, t in mconf.items():
                    out.append(Assertion(f"schema:{schema}", key, t, level))
            elif metric == "country_entities":
                for country, t in mconf.items():
                    out.append(Assertion(f"country:{country}", key, t, level))
            elif metric == "entities_with_prop":
                for schema, props in mconf.items():
                    for prop, t in props.items():
                        out.append(
                            Assertion(f"prop:{schema}.{prop}", key, t, level)
                        )
            elif metric == "property_fill_rate":
                for schema, props in mconf.items():
                    for prop, t in props.items():
                        out.append(
                            Assertion(f"fill:{schema}.{prop}", key, t, level)
                        )
    return out


@dataclass
class DatasetConfig:
    """Dataset run configuration — the ``zavod`` dataset YAML analogue
    (``zavod/zavod/meta/model.py`` + ``dataset.py:184-202``): ``name``
    and assertion thresholds drive the run; everything else
    (title/summary/publisher/url/tags/coverage/type/hidden/...) is
    published metadata that flows verbatim into ``index.json``."""

    name: str
    assertions: list[Assertion] = field(default_factory=list)
    #: False when the dataset's own config declared no assertions (the
    #: baseline defaults may still be merged in) — drives the
    #: reference's "Dataset has no assertions." nudge, which is logged
    #: as an error-level issue but never aborts
    #: (``validators/assertions.py:166-177``).
    has_user_assertions: bool = True
    metadata: dict = field(default_factory=dict)
    #: datapatch lookup tables (``lookups:`` in the dataset YAML —
    #: ``zavod/zavod/meta/dataset.py:117-120``); ``prop.<name>`` lookups
    #: are applied as a cleaning pass before the archive write
    lookups: dict = field(default_factory=dict)

    @classmethod
    def from_dict(cls, data: dict) -> "DatasetConfig":
        data = dict(data)
        name = data.pop("name")
        raw = data.pop("assertions", None)
        has_user = True
        if isinstance(raw, dict) or raw is None:
            # the reference's YAML shape: {min: {...}, max: {...}} —
            # baseline defaults merge in, leaf-overridable; an absent
            # or empty block sets the nudge flag
            user = raw or {}
            has_user = bool(parse_assertions(user))
            assertions = parse_assertions(
                merge_assertions_config(DEFAULT_ASSERTIONS, user)
            )
        else:
            # legacy flat list form ("metric:op:threshold" strings or
            # Assertion kwarg dicts) — used as given, no defaults
            assertions = []
            for a in raw:
                if isinstance(a, str):
                    metric, op, threshold = a.rsplit(":", 2)
                    assertions.append(
                        Assertion(metric=metric, op=op, threshold=int(threshold))
                    )
                else:
                    assertions.append(Assertion(**a))
        lookups = {}
        if "lookups" in data:
            from opensanctions_spark.functions.lookups import load_lookups

            lookups = load_lookups({"lookups": data.pop("lookups")})
        return cls(name=name, assertions=assertions,
                   has_user_assertions=has_user, metadata=data,
                   lookups=lookups)

    @classmethod
    def from_file(cls, path: str) -> "DatasetConfig":
        """Load a dataset config file: JSON always; YAML when the yaml
        package is importable (the reference's configs are YAML — JSON
        is the dependency-free interchange form)."""
        with open(path) as fh:
            text = fh.read()
        try:
            data = json.loads(text)
        except json.JSONDecodeError:
            try:
                import yaml  # type: ignore[import-not-found]
            except ImportError as exc:
                raise ValueError(
                    f"{path} is not JSON and pyyaml is unavailable"
                ) from exc
            data = yaml.safe_load(text)
        return cls.from_dict(data)


@dataclass
class RunResult:
    dataset: str
    version: str
    entity_count: int
    statement_count: int
    target_count: int
    schema_counts: dict[str, int]
    delta_ops: dict[str, int]
    dangling_count: int
    violations: list[str]
    export_counts: dict[str, int]


def dangling_references(entities: DataFrame) -> DataFrame:
    """Referenced entity ids that are not present in the view (J10)."""
    props = list(ENTITY_PROPS)
    refs = entities.select(
        F.explode(
            F.flatten(F.array(*[prop_values(F.col("properties"), p) for p in props]))
        ).alias("ref")
    ).distinct()
    return refs.join(
        entities.select(F.col("canonical_id").alias("ref")), "ref", "left_anti"
    )


def _extended_stats(
    entities: DataFrame, assertions: list[Assertion]
) -> dict[str, float]:
    """Extra assertion metrics, computed ONLY when some assertion needs
    them (the base GROUPING SETS pass covers entity/target/schema):

    - ``country:<code>`` / ``countries``: one explode + groupBy over the
      country property — output bounded by the country vocabulary,
    - ``prop:<S>.<p>`` / ``fill:<S>.<p>``: per-schema filled-counts for
      every asserted (schema, property) pair in ONE aggregation — one
      flag column per pair, output bounded by the schemata.

    Both are single-pass aggregations over the already-persisted entity
    view, mirroring the reference's Statistics observer
    (``zavod/zavod/validators/assertions.py`` stats shapes)."""
    out: dict[str, float] = {}
    need_country = any(
        a.metric == "countries" or a.metric.startswith("country:")
        for a in assertions
    )
    pairs = sorted(
        {
            a.metric.split(":", 1)[1]
            for a in assertions
            if a.metric.startswith(("prop:", "fill:"))
        }
    )
    if need_country:
        # The reference counts entity.countries — the DISTINCT values of
        # every country-typed prop (country, jurisdiction, mainCountry,
        # nationality, citizenship) — and only over Thing-subtree
        # entities (``zavod/zavod/exporters/statistics.py:106-110``:
        # ``if entity.schema.is_a("Thing"): for country in
        # entity.countries``). A dataset whose country signal lives in
        # nationality must not undercount and abort the run. Same
        # column expression as the statistics exporters, by import.
        from opensanctions_spark.exporters import entity_countries
        from opensanctions_spark.exporters.metadata import THING_SCHEMATA

        rows = (
            entities.filter(F.col("schema").isin(*THING_SCHEMATA))
            .select(F.explode(entity_countries(F.col("properties"))).alias("c"))
            .groupBy("c")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        out["countries"] = len(rows)
        for r in rows:
            out[f"country:{r['c']}"] = r["n"]
    if pairs:
        flags = [
            (
                F.size(
                    F.coalesce(
                        F.col("properties")[p.split(".", 1)[1]], F.array()
                    )
                )
                > 0
            )
            .cast("long")
            .alias(f"_f{i}")
            for i, p in enumerate(pairs)
        ]
        rows = (
            entities.select("schema", *flags)
            .groupBy("schema")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[F.sum(f"_f{i}").alias(f"_s{i}") for i in range(len(pairs))],
            )
            .collect()
        )
        by_schema = {r["schema"]: r for r in rows}
        for i, p in enumerate(pairs):
            schema = p.split(".", 1)[0]
            row = by_schema.get(schema)
            filled = row[f"_s{i}"] if row is not None else 0
            total = row["_n"] if row is not None else 0
            out[f"prop:{p}"] = filled
            out[f"fill:{p}"] = (filled / total) if total else 0.0
    return out


def check_assertions(stats: dict[str, float], assertions: list[Assertion]) -> list[str]:
    """Threshold checks over aggregate stats; returns violation messages.
    ``min`` failures are fatal in the reference (the caller raises).
    ``fill:`` assertions skip schemata the dataset does not emit — the
    reference's emitted-schemata guard (``validators/assertions.py:
    129-140``): a fill-rate rule on an absent schema must not fail as
    0.0."""
    out = []
    for a in assertions:
        if a.metric.startswith("fill:"):
            schema = a.metric[5:].split(".", 1)[0]
            if not stats.get(f"schema:{schema}"):
                continue
        actual = stats.get(a.metric, 0)
        if a.op == "min" and actual < a.threshold:
            out.append(f"{a.level}: {a.metric}={actual} < min {a.threshold}")
        elif a.op == "max" and actual > a.threshold:
            out.append(f"{a.level}: {a.metric}={actual} > max {a.threshold}")
    return out


def _map_fingerprint(canonical_map: DataFrame | None) -> str | None:
    """One aggregation: each stage computes it once for every ``_rekey``."""
    return None if canonical_map is None else mapping_fingerprint(canonical_map)


def _rekey(statements: DataFrame, archive: StatementArchive, name: str,
           version: str | None, canonical_map: DataFrame | None,
           map_fp: str | None) -> tuple[DataFrame, bool]:
    """Resolver rekey (J2) of one version's statements; returns them with
    the flag that lets the assembly skip its clustering exchange.

    The reference's linker applies to every store access
    (``zavod/zavod/store.py:36-47``), so every version is normalized to
    the CURRENT map — unless the manifest proves it was written under the
    identical map (the fingerprint fast path), in which case its stored
    canonical ids and bucket clustering are consumed as-is (§21c). The
    round-11 rehearsal bug (prev diffed raw → spurious DEL per merged id)
    stays fixed: both sides of J1 and D0/D1 are always map-consistent.
    ``version=None`` marks statements not yet written: always rekeyed."""
    if canonical_map is not None and (
        version is None or archive.canonical_fp(name, version) != map_fp
    ):
        return apply_canonical(statements, canonical_map), False
    return statements, archive.is_bucketed(name, version)


def _stamp(statements: DataFrame, archive: StatementArchive, name: str,
           run_time: str, lookups: dict | None,
           canonical_map: DataFrame | None = None, map_fp: str | None = None,
           ) -> tuple[DataFrame, DataFrame | None, str | None]:
    """The crawl stage's stamping: datapatch lookups, both seen-timestamps
    (stamped at emit time like the reference's context.emit), the
    resolver rekey, then first_seen propagated from the previous version
    (J1, ``zavod/zavod/runtime/timestamps.py``). Returns the stamped
    statements, the previous version's statements (map-consistent with
    the stamped ones) and that version's id."""
    # "previous" = last SUCCESSFUL run — a version written by a run that
    # later failed validation must not feed timestamps or deltas
    prev_version = archive.last_successful(name)
    # the first_seen index must cover EXTERNAL statements too: an
    # analyzer/enricher re-run would otherwise reset first_seen on every
    # external row each night (the internal-only read would drop their
    # ids from the index and propagate_first_seen would coalesce to the
    # new run_time)
    prev = (
        archive.read(name, version=prev_version, external=True)
        if prev_version else None
    )
    # datapatch cleaning: the dataset's prop.* lookup tables rewrite
    # values before anything downstream sees them (the reference cleans at
    # emit time — zavod/zavod/runtime/lookups.py:52-83); map-only stage
    if lookups:
        from opensanctions_spark.functions.lookups import apply_statement_lookups

        statements = apply_statement_lookups(statements, lookups)
    statements = statements.drop("first_seen").withColumn(
        "last_seen", F.lit(run_time)
    )
    # resolver rekey BEFORE the versioned write: the stored version is
    # already canonical, so (a) the bucketed layout clusters on the FINAL
    # canonical_id and the assembly/delta ride it exchange-free, and (b)
    # no read-time rekey is needed for the current version
    if canonical_map is not None:
        statements, _ = _rekey(statements, archive, name, None,
                               canonical_map, map_fp)
        if prev is not None:
            prev, _ = _rekey(prev, archive, name, prev_version,
                             canonical_map, map_fp)
    if prev is None:
        return statements.withColumn("first_seen", F.lit(run_time)), None, None
    # with a resolver map both sides are canonical-consistent, so the
    # J1 probe keys on (canonical_id, id) rows — the prev
    # side rides the bucketed clustering with zero exchange and the
    # current side pays the single canonical_id exchange the write
    # and assembly want anyway. Mapless runs keep the id-keyed join
    # (caller-set canonical ids need not match across versions).
    statements = propagate_first_seen(
        statements,
        prev.select("canonical_id", "id", "first_seen"),
        run_time=run_time,
        cluster_col="canonical_id" if canonical_map is not None else None,
    )
    return statements, prev, prev_version


def _entity_view(archive: StatementArchive, name: str, version: str | None,
                 canonical_map: DataFrame | None, map_fp: str | None,
                 ) -> tuple[DataFrame, DataFrame, bool]:
    """One archived version → (statements, persisted entity view,
    pre_clustered): the single assembly (A1) that validation and every
    export consume. With bucketed statement storage the scan is already
    clustered on canonical_id and the assembly runs exchange-free."""
    statements = archive.read(name, version=version, external=True)
    statements, pre_clustered = _rekey(
        statements, archive, name, version, canonical_map, map_fp
    )
    entities = assemble_entities(statements, pre_clustered=pre_clustered)
    return statements, entities.persist(), pre_clustered


def _validate(entities: DataFrame, assertions: list[Assertion]) -> dict:
    """The shared-scan validators over the persisted entity view: counts,
    assertion violations and dangling references (J10). Per-schema counts
    and the entity/target totals come out of ONE GROUPING SETS pass (the
    reference's validators share one scan the same way,
    zavod/zavod/validators/__init__.py:72-104)."""
    stat_rows = (
        entities.select(
            "schema",
            target_flag(F.col("properties")).cast("long").alias("is_target"),
        )
        .groupingSets([["schema"], []], "schema")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_target").alias("n_target"),
            F.grouping("schema").alias("g"),
        )
        .collect()
    )
    schema_counts = {r["schema"]: r["n"] for r in stat_rows if r["g"] == 0}
    total = next(r for r in stat_rows if r["g"] == 1)
    stats: dict[str, float] = {
        "entity_count": total["n"],
        "target_count": total["n_target"] or 0,
        **{f"schema:{k}": v for k, v in schema_counts.items()},
    }
    stats.update(_extended_stats(entities, assertions))
    violations = check_assertions(stats, assertions)
    return {
        "entity_count": stats["entity_count"],
        "target_count": stats["target_count"],
        "schema_counts": schema_counts,
        "dangling_count": dangling_references(entities).count(),
        "violations": violations,
    }


def _delta_artifact_nonempty(path: str) -> bool:
    """True when a delta.json artifact exists and carries data — the
    reference checks object presence AND size > 0 before listing a version
    in the delta index (``zavod/zavod/exporters/metadata/__init__.py:
    210-229``). Spark text sinks are directories of part files; a plain
    file (post-publish single_file copy) also counts."""
    if os.path.isfile(path):
        return os.path.getsize(path) > 0
    if os.path.isdir(path):
        return any(
            n.startswith("part-") and os.path.getsize(os.path.join(path, n)) > 0
            for n in os.listdir(path)
        )
    return False


def _write_delta(prev: DataFrame | None, statements: DataFrame,
                 entities: DataFrame, archive: StatementArchive, name: str,
                 version: str, out_dir: str, single_file: bool,
                 ) -> dict[str, int]:
    """The ADD/MOD/DEL delta (D0/D1) of ``statements`` against the
    caller's baseline ``prev`` → ``delta.json`` + ``delta_index.json``;
    returns the per-op counts. No baseline, no delta."""
    if prev is None:
        return {}
    diff = version_diff(hashed_entities(prev), hashed_entities(statements))
    delta_ops = {
        r["op"]: r["n"]
        for r in diff.groupBy("op").agg(F.count("*").alias("n")).collect()
    }
    # reference line format: {"op": ..., "entity": {...}} per row
    # (zavod/zavod/exporters/delta.py:29-38)
    delta_path = os.path.join(out_dir, "delta.json")
    delta_out = delta_export_rows(diff, entities).orderBy("canonical_id")
    if single_file:
        delta_out = delta_out.coalesce(1)
    delta_out.select("line").write.mode("overwrite").text(delta_path)
    # K8/K12: the delta-versions index. The reference
    # (``zavod/zavod/exporters/metadata/__init__.py:200-256``,
    # include_latest=True) lists the just-exported version FIRST —
    # its delta.json ships alongside the index even though the
    # version may still be pending promotion — and then only prior
    # versions whose delta artifact actually exists and is
    # non-empty, so the index never points at missing files.
    indexable = [
        v for v in archive.successful_versions(name)
        if v != version
        and _delta_artifact_nonempty(
            os.path.join(
                os.path.dirname(archive.version_path(name, v)), "delta.json"
            )
        )
    ]
    if _delta_artifact_nonempty(delta_path):
        indexable.append(version)
    write_delta_index(out_dir, name, indexable)
    return delta_ops


def run_dataset(
    spark: SparkSession,
    statements: DataFrame,
    config: DatasetConfig,
    archive: StatementArchive,
    out_dir: str,
    run_time: str,
    version: str | None = None,
    canonical_map: DataFrame | None = None,
    single_file: bool = True,
) -> RunResult:
    """Execute the full pipeline for one dataset run.

    ``canonical_map`` is the resolver's (entity_id, canonical_id)
    snapshot; when given, statements are rekeyed through it (J2,
    broadcast) before assembly — the reference applies its linker the
    same way, at store-read time (``zavod/zavod/store.py:36-47``), so
    merged entities collapse into one canonical group in A1."""
    map_fp = _map_fingerprint(canonical_map)
    stamped, prev, prev_version = _stamp(
        statements, archive, config.name, run_time, config.lookups,
        canonical_map, map_fp,
    )
    # the previous version stores resolver-merged canonical ids but this
    # run has no map: J1 (id-keyed) is unaffected, but the delta below
    # will diff merged ids against raw ones — surface it
    resolver_dropped = (
        canonical_map is None
        and prev_version is not None
        and archive.canonical_fp(config.name, prev_version) is not None
    )
    # versioned write, then read back (single lineage for all consumers).
    # Written PENDING (success=False): the version is recorded and
    # debuggable, but the backfill pointer only advances once the whole
    # run — validation included — completes (mark_successful below), so a
    # fatal-assertion abort can never poison the next run's backfill.
    version = archive.write(
        stamped, config.name, version, success=False, canonical_fp=map_fp
    )
    statements, entities, pre_clustered = _entity_view(
        archive, config.name, version, canonical_map, map_fp
    )
    report = _validate(entities, config.assertions)
    violations = report["violations"]
    if any(v.startswith("error") for v in violations):
        entities.unpersist()
        raise AssertionError("; ".join(violations))

    # issues.json + by-level counts for the index (the reference's
    # DatasetIssues artifact: validation findings become issue records)
    issues = [v.split(": ", 1) for v in violations]  # "<level>: <message>"
    if not config.has_user_assertions:
        # the reference's maintainer nudge: error-LEVEL log, but never
        # an abort (validators/assertions.py:166-177 sets no abort flag
        # for it) — so it rides the issues channel, not the violations
        issues.append(("error", "Dataset has no assertions."))
    if report["dangling_count"]:
        issues.append(
            ("warning", f"{report['dangling_count']} dangling entity references")
        )
    if resolver_dropped:
        issues.append(("warning", (
            "previous version was written under a resolver map but this run "
            "has none: the delta may report merged ids as ADD/DEL pairs"
        )))
    os.makedirs(out_dir, exist_ok=True)
    issue_levels = write_issues(out_dir, [
        {"level": level, "message": message, "dataset": config.name}
        for level, message in issues
    ])

    # exports (shared scan; single_file=False is the cluster path —
    # range-ordered multi-part sink files, see exporters.export_all)
    export_counts = export_all(
        entities, statements, out_dir, dataset=config.name,
        single_file=single_file, clustered=pre_clustered,
        version=str(version), run_time=run_time,
        issue_levels=issue_levels, dataset_meta=config.metadata,
    )
    delta_ops = _write_delta(
        prev, statements, entities, archive, config.name, version, out_dir,
        single_file,
    )
    result = RunResult(
        dataset=config.name,
        version=version,
        statement_count=export_counts.get("statements.csv", 0),
        delta_ops=delta_ops,
        export_counts=export_counts,
        **report,
    )
    with open(os.path.join(out_dir, "run.json"), "w") as fh:
        json.dump(result.__dict__, fh, indent=2, sort_keys=True)
    # the run completed (exports + validation): promote the version so
    # backfill reads resolve it
    archive.mark_successful(config.name, version)
    entities.unpersist()
    return result


def crawl_dataset(
    spark: SparkSession,
    statements: DataFrame,
    name: str,
    archive: StatementArchive,
    run_time: str,
    version: str | None = None,
    lookups: dict | None = None,
) -> str:
    """The standalone crawl stage (``zavod crawl``,
    ``zavod/zavod/cli/etl.py:24-36``): stamp seen timestamps, propagate
    first_seen from the previous successful version (J1), write ONE
    immutable archive version. Returns the version id — validation/export
    read it back, so re-running either never re-crawls. ``lookups``
    applies the dataset's datapatch cleaning pass first, like the run."""
    stamped, _, _ = _stamp(statements, archive, name, run_time, lookups)
    return archive.write(stamped, name, version)


def validate_dataset(
    spark: SparkSession,
    archive: StatementArchive,
    name: str,
    assertions: list[Assertion] | None = None,
    version: str | None = None,
    canonical_map: DataFrame | None = None,
) -> dict:
    """The standalone validate stage (``zavod validate``,
    ``zavod/zavod/cli/etl.py:38-55``): rebuild the entity view from the
    archived statements and run the shared-scan validators + assertion
    checks WITHOUT exporting. Returns the validation manifest."""
    version = version or archive.last_successful(name)
    _, entities, _ = _entity_view(
        archive, name, version, canonical_map, _map_fingerprint(canonical_map)
    )
    report = _validate(entities, assertions or [])
    entities.unpersist()
    return {"dataset": name, "version": version, **report}


def export_dataset(
    spark: SparkSession,
    archive: StatementArchive,
    name: str,
    out_dir: str,
    run_time: str,
    version: str | None = None,
    canonical_map: DataFrame | None = None,
    single_file: bool = True,
    dataset_meta: dict | None = None,
) -> dict:
    """The standalone export stage (``zavod export``,
    ``zavod/zavod/cli/etl.py:57-73``): rebuild the entity view from one
    archived version, run every sink + the K12 metadata set, and write
    the ADD/MOD/DEL delta against the previous SUCCESSFUL version.

    ``version=None`` exports the newest RECORDED version — deliberately
    the working-directory semantics of ``zavod export``. After a
    ``crawl`` that is the crawled version, already promoted (the crawl
    writes it successful); after a ``run`` that aborted on a fatal
    assertion it is that run's pending version. Published-only reads go
    through ``archive.read`` / ``--as-of``."""
    version = version or archive.latest(name)
    if version is None:
        raise ValueError(f"no archived versions for dataset {name!r}")
    map_fp = _map_fingerprint(canonical_map)
    statements, entities, pre_clustered = _entity_view(
        archive, name, version, canonical_map, map_fp
    )
    export_counts = export_all(
        entities, statements, out_dir, dataset=name,
        single_file=single_file, clustered=pre_clustered,
        version=str(version), run_time=run_time,
        dataset_meta=dataset_meta,
    )
    # delta baseline = the newest SUCCESSFUL version strictly before the
    # exported one (a failed run's statements must never anchor the
    # published ADD/MOD/DEL), restricted to versions whose files are
    # guaranteed on disk (retention window + the gc-protected pointer)
    readable = set(archive.versions(name))
    last_ok = archive.last_successful(name)
    if last_ok is not None:
        readable.add(last_ok)
    priors = [
        v for v in archive.successful_versions(name)
        if v < version and v in readable
    ]
    prev = None
    if priors:
        prev, _ = _rekey(
            archive.read(name, version=priors[-1], external=True),
            archive, name, priors[-1], canonical_map, map_fp,
        )
    delta_ops = _write_delta(
        prev, statements, entities, archive, name, version, out_dir,
        single_file,
    )
    entities.unpersist()
    return {
        "dataset": name,
        "version": version,
        "export_counts": export_counts,
        "delta_ops": delta_ops,
    }
