"""The benchmark workloads. Each one drives the engine through its public
entry points only and checks every operation's output against the
generator's planted truth.

A workload has the same life cycle in every run:

- ``generate(dir)`` writes the seeded inputs and returns their digest,
- ``stage()`` builds the state every operation starts from,
- per operation: ``prepare(i)`` outside the timer, ``run()`` timed,
  ``check()`` after it (returns an error string or ``None``),
  ``out_mb()`` and ``cleanup()``,
- ``traced_op(tracer)`` is one operation with a span around each layer.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import gen
from probe import dir_mb, group_counters


@contextmanager
def patched(tracer, targets):
    """Wrap module attributes in spans for the duration of one traced op.

    ``targets`` holds ``(module, attr, span_name, force)`` rows. The
    wrapper calls the original public function inside a span named
    ``span_name``; ``force(result, counters)`` (optional) materializes
    the lazy result inside the same span, so the span holds the layer's
    work rather than just its plan building, and returns what the caller
    gets back."""
    saved = []
    for module, attr, name, force in targets:
        orig = getattr(module, attr)

        def wrapper(*args, _orig=orig, _name=name, _force=force, **kwargs):
            with tracer.span(_name) as counters:
                out = _orig(*args, **kwargs)
                if _force is not None:
                    out = _force(out, counters)
            return out

        setattr(module, attr, wrapper)
        saved.append((module, attr, orig))
    try:
        yield
    finally:
        for module, attr, orig in saved:
            setattr(module, attr, orig)


def _persisted(df):
    df = df.persist()
    return df, df.count()


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.truth: dict = {}
        self.inputs = ""  # set to one generated input directory

    def generate(self, path: str) -> str:
        raise NotImplementedError

    def stage(self) -> None:
        pass

    def prepare(self, i: int) -> None:
        self.op_dir = os.path.join(self.work, f"{self.name}-op{i}")

    def cleanup(self) -> None:
        shutil.rmtree(self.op_dir, ignore_errors=True)


# -- nightly_run ----------------------------------------------------------

class NightlyRun(Workload):
    """One incremental ``run_dataset`` (the ``run`` CLI path) over a
    seeded OFAC-shaped corpus, against an archive that already holds the
    previous successful version."""

    name = "nightly_run"
    dataset = "bench_nightly"
    prev_version = "20260701-000000-000000"
    run_time = "2026-08-01T00:00:00"
    n_entities = 20_000

    def generate(self, path: str) -> str:
        self.truth = gen.gen_nightly(self.seed, self.n_entities, path, self.dataset)
        return gen.digest_dir(path)

    def stage(self) -> None:
        from opensanctions_spark.sources.archive import StatementArchive

        self.template = os.path.join(self.work, "nightly-template")
        StatementArchive(self.spark, self.template).write(
            self.spark.read.parquet(os.path.join(self.inputs, "prev")),
            self.dataset, self.prev_version, success=True,
        )

    def prepare(self, i: int) -> None:
        from opensanctions_spark.sources.archive import StatementArchive

        super().prepare(i)
        shutil.copytree(self.template, os.path.join(self.op_dir, "archive"))
        self.archive = StatementArchive(
            self.spark, os.path.join(self.op_dir, "archive")
        )
        self.out = os.path.join(self.op_dir, "out")

    def run(self) -> None:
        from opensanctions_spark.plans.run import DatasetConfig, run_dataset

        self.result = run_dataset(
            self.spark,
            self.spark.read.parquet(os.path.join(self.inputs, "curr")),
            DatasetConfig(name=self.dataset),
            self.archive,
            self.out,
            run_time=self.run_time,
            single_file=True,
        )

    def _check(self, entity_count: int, delta_ops: dict) -> str | None:
        if entity_count != self.truth["entities"]:
            return f"entity_count {entity_count} != {self.truth['entities']}"
        if delta_ops != self.truth["delta"]:
            return f"delta {delta_ops} != {self.truth['delta']}"
        return None

    def check(self) -> str | None:
        return self._check(self.result.entity_count, self.result.delta_ops)

    def out_mb(self) -> float:
        version_dir = os.path.dirname(
            self.archive.version_path(self.dataset, self.result.version)
        )
        return dir_mb(self.out, version_dir)

    def traced_op(self, tracer) -> str | None:
        """``run_dataset`` re-composed from the staged public calls
        (crawl → assemble → validate → export → delta), one span each."""
        from pyspark.sql import functions as F

        from opensanctions_spark.exporters import export_all
        from opensanctions_spark.operators.assembly import assemble_entities
        from opensanctions_spark.operators.delta import (
            delta_export_rows,
            hashed_entities,
            version_diff,
        )
        from opensanctions_spark.plans.run import (
            DatasetConfig,
            crawl_dataset,
            validate_dataset,
        )

        spark, name, archive = self.spark, self.dataset, self.archive
        config = DatasetConfig(name=name)
        with tracer.span("plans.run.crawl_dataset") as c:
            version = crawl_dataset(
                spark, spark.read.parquet(os.path.join(self.inputs, "curr")),
                name, archive, run_time=self.run_time,
            )
            c["out_mb"] = dir_mb(
                os.path.dirname(archive.version_path(name, version))
            )
        statements = archive.read(name, version=version, external=True)
        with tracer.span("operators.assembly.assemble_entities"):
            entities, _ = _persisted(assemble_entities(statements))
        with tracer.span("plans.run.validate_dataset"):
            report = validate_dataset(
                spark, archive, name, assertions=config.assertions,
                version=version,
            )
        with tracer.span("exporters.export_all") as c:
            export_all(
                entities, statements, self.out, dataset=name,
                single_file=True, version=version, run_time=self.run_time,
            )
            c["out_mb"] = dir_mb(self.out)
        delta_path = os.path.join(self.out, "delta.json")
        with tracer.span("operators.delta.version_diff") as c:
            prev = archive.read(name, version=self.prev_version, external=True)
            diff, _ = _persisted(
                version_diff(hashed_entities(prev), hashed_entities(statements))
            )
            ops = {
                r["op"]: r["n"]
                for r in diff.groupBy("op").agg(F.count("*").alias("n")).collect()
            }
            (
                delta_export_rows(diff, entities).orderBy("canonical_id")
                .coalesce(1).select("line").write.text(delta_path)
            )
            c.update(ops_add=ops.get("ADD", 0), ops_mod=ops.get("MOD", 0),
                     ops_del=ops.get("DEL", 0), out_mb=dir_mb(delta_path))
        return self._check(report["entity_count"], ops)


# -- xref_resolve ---------------------------------------------------------

class XrefResolve(Workload):
    """One ``xref_and_resolve`` with the reference budgets plus the two
    parquet writes of the ``xref`` CLI, over Zipf-named subjects."""

    name = "xref_resolve"
    n_base = 20_000
    #: share of planted fuzzy pairs the unchanged engine judges POSITIVE or
    #: UNSURE is 0.74-0.76 over seeds 1-3; pruning that loses candidate
    #: pairs falls below this floor
    fuzzy_floor = 0.70

    def generate(self, path: str) -> str:
        self.truth = gen.gen_subjects(self.seed, self.n_base, path)
        return gen.digest_dir(path)

    def stage(self) -> None:
        self.fingerprint = None

    def run(self) -> None:
        from opensanctions_spark.plans.xref import XrefConfig, xref_and_resolve

        decisions, mapping = xref_and_resolve(
            self.spark.read.parquet(self.inputs), XrefConfig(),
            exact_strong_ids=True,
        )
        decisions = decisions.persist()
        decisions.write.parquet(os.path.join(self.op_dir, "decisions.parquet"))
        mapping.write.parquet(os.path.join(self.op_dir, "canonical_map.parquet"))
        decisions.unpersist()

    def check(self) -> str | None:
        """Every planted strong-id group maps to one canonical id; at least
        ``fuzzy_floor`` of the planted fuzzy pairs are judged POSITIVE or
        UNSURE, and each POSITIVE one maps to one canonical id; the
        mapping fingerprint equals the first op's."""
        from opensanctions_spark.operators.resolve import mapping_fingerprint

        mapping = self.spark.read.parquet(
            os.path.join(self.op_dir, "canonical_map.parquet")
        )
        canon = {r["entity_id"]: r["canonical_id"] for r in mapping.collect()}
        for members in self.truth["groups"]:
            ids = {canon.get(m) for m in members}
            if len(ids) != 1 or None in ids:
                return f"strong-id group {members} -> {sorted(map(str, ids))}"
        judged = {
            (r["left_id"], r["right_id"]): r["judgement"]
            for r in self.spark.read.parquet(
                os.path.join(self.op_dir, "decisions.parquet")
            ).collect()
        }
        planted = self.truth["fuzzy"]
        found = [p for p in planted if judged.get(p) in ("POSITIVE", "UNSURE")]
        if len(found) < self.fuzzy_floor * len(planted):
            return (f"{len(found)} of {len(planted)} planted fuzzy pairs "
                    f"judged, below {self.fuzzy_floor:.0%}")
        for f, s in found:
            if judged[(f, s)] == "POSITIVE" and canon.get(f, f) != canon.get(s, s):
                return f"POSITIVE fuzzy pair {f}, {s} not merged"
        fp = mapping_fingerprint(mapping)
        if self.fingerprint is None:
            self.fingerprint = fp
        elif fp != self.fingerprint:
            return f"mapping fingerprint {fp} != {self.fingerprint}"
        return None

    def out_mb(self) -> float:
        return dir_mb(self.op_dir)

    def traced_op(self, tracer) -> str | None:
        """The same call with each stage wrapped, forced and persisted, so
        the next span reads its input instead of recomputing it."""
        from pyspark.sql import functions as F

        from opensanctions_spark.plans import xref

        def force(out, c):
            return _persisted(out)[0]

        def scored(out, c):
            out, c["pairs_scored"] = _persisted(out)
            self._scored = c["pairs_scored"]
            return out

        def kept(out, c):
            # pairs_scored counts both orientations of every pair; top-k
            # sees only the subject_id < candidate_id half
            out, c["pairs_kept"] = _persisted(out)
            c["kept_ratio"] = c["pairs_kept"] / max(self._scored / 2, 1)
            return out

        def judged(out, c):
            out = out.persist()
            n = {r["judgement"]: r["n"] for r in out.groupBy("judgement")
                 .agg(F.count("*").alias("n")).collect()}
            c.update(positive=n.get("POSITIVE", 0), unsure=n.get("UNSURE", 0))
            return out

        def edges(out, c):
            out, c["positive"] = _persisted(out)
            return out

        def resolved(out, c):
            out = out.persist()
            c["entities_merged"] = out.filter(
                F.col("entity_id") != F.col("canonical_id")
            ).count()
            self._map_counters = c
            return out

        targets = [
            (xref, "tokenize", "operators.blocking.tokenize", force),
            (xref, "jaccard_scored_pairs",
             "operators.blocking.jaccard_scored_pairs", scored),
            (xref, "top_k_per_subject", "operators.blocking.top_k_per_subject", kept),
            (xref, "apply_match_rules",
             "operators.match_rules.apply_match_rules", judged),
            (xref, "strong_id_edges", "plans.xref.strong_id_edges", edges),
            (xref, "canonical_map", "operators.resolve.canonical_map", resolved),
        ]
        with patched(tracer, targets):
            self.run()
        self._map_counters["out_mb"] = dir_mb(
            os.path.join(self.op_dir, "canonical_map.parquet")
        )
        return self.check()


# -- stream_curate --------------------------------------------------------

class StreamCurate(Workload):
    """One fresh ``curate_document_stream`` over several file-drop waves,
    each an ``availableNow`` trigger, against a growing on-disk index."""

    name = "stream_curate"
    n_per_wave = 3000
    n_waves = 2

    def generate(self, path: str) -> str:
        self.truth = gen.gen_documents(
            self.seed, self.n_per_wave, self.n_waves, path
        )
        return gen.digest_dir(path)

    def stage(self) -> None:
        self.corpus_digest = None
        self.docs = self.spark.read.parquet(
            *[os.path.join(self.inputs, f"wave-{w}") for w in range(self.n_waves)]
        )

    def prepare(self, i: int) -> None:
        super().prepare(i)
        self.incoming = os.path.join(self.op_dir, "incoming")
        os.makedirs(self.incoming)
        self.corpus = os.path.join(self.op_dir, "corpus")
        self.index = os.path.join(self.op_dir, "index")
        self.progress: list = []
        self.wave_s: list[float] = []
        self.run_ids: list[str] = []
        self.t_start = time.time()

    def _drop_wave(self, w: int) -> None:
        src = os.path.join(self.inputs, f"wave-{w}")
        for name in sorted(os.listdir(src)):
            shutil.copy(os.path.join(src, name),
                        os.path.join(self.incoming, f"wave-{w}-{name}"))

    def run(self) -> None:
        from opensanctions_spark.streaming.curate import curate_document_stream

        for w in range(self.n_waves):
            self._drop_wave(w)
            t0 = time.perf_counter()
            q = curate_document_stream(
                self.spark.readStream.schema(self.docs.schema).parquet(self.incoming),
                self.index, self.corpus, os.path.join(self.op_dir, "ckpt"),
            )
            q.awaitTermination()
            self.wave_s.append(time.perf_counter() - t0)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            self.progress.extend(q.recentProgress)
            self.run_ids.append(str(q.runId))

    def check(self) -> str | None:
        """No fingerprint repeats in the corpus, no planted exact copy is
        admitted, and the corpus equals the first op's."""
        from pyspark.sql import functions as F

        corpus = self.spark.read.parquet(self.corpus)
        texts = corpus.join(self.docs.select("doc_id", "text"), "doc_id")
        row = texts.agg(
            F.count("*").alias("n"),
            F.countDistinct(F.md5("text")).alias("fps"),
            F.sum(F.col("doc_id").isin(self.truth["exact_ids"]).cast("int"))
            .alias("exact"),
            F.expr("sum(cast(xxhash64(doc_id, split) as decimal(38,0)))")
            .alias("digest"),
        ).collect()[0]
        if row["n"] != row["fps"]:
            return f"corpus has {row['n'] - row['fps']} repeated texts"
        if row["exact"]:
            return f"{row['exact']} planted exact duplicates admitted"
        digest = (row["n"], str(row["digest"]))
        if self.corpus_digest is None:
            self.corpus_digest = digest
        elif digest != self.corpus_digest:
            return f"corpus {digest} != first op {self.corpus_digest}"
        return None

    def out_mb(self) -> float:
        return dir_mb(self.corpus, self.index)

    def traced_op(self, tracer) -> str | None:
        """The stream with the sink's two public calls wrapped. The spans
        run on the stream's callback thread and restore its job group;
        the streaming engine's own durations come from ``recentProgress``
        and its jobs from the query's run-id job group."""
        from opensanctions_spark.streaming import curate

        def index(out, c):
            fps, bands = out
            fps, n_fps = _persisted(fps)
            bands, n_bands = _persisted(bands)
            c["index_rows"] = n_fps + n_bands
            return fps, bands

        def increment(out, c):
            curated, exact, wave_bands = out
            curated, c["docs_kept"] = _persisted(curated)
            return curated, exact, wave_bands

        targets = [
            (curate, "load_curation_index",
             "streaming.curate.load_curation_index", index),
            (curate, "curate_increment", "plans.curate.curate_increment",
             increment),
        ]
        with patched(tracer, targets):
            self.run()
        sc = self.spark.sparkContext
        engine = {"jobs": 0, "tasks": 0, "exec_cpu_s": 0.0, "shuffle_mb": 0.0,
                  "gc_s": 0.0, "failed_tasks": 0}
        for run_id in self.run_ids:
            for key, value in group_counters(sc, run_id).items():
                engine[key] += value
        for key in ("addBatch", "getBatch", "queryPlanning", "walCommit",
                    "commitOffsets", "triggerExecution"):
            engine[f"{key}_ms"] = sum(
                p["durationMs"].get(key, 0) for p in self.progress
            )
        busy_s = engine.pop("triggerExecution_ms") / 1e3
        tracer.record("streaming.engine", self.t_start, self.t_start + busy_s,
                      engine)
        per_op = {
            "docs_in": sum(p["numInputRows"] for p in self.progress),
            "last_first_wave_ratio": self.wave_s[-1] / self.wave_s[0],
            "out_mb": self.out_mb(),
            "jobs_per_wave": sum(
                s["counters"]["jobs"] for s in tracer.spans
                if s["op"] == tracer.op_id and s["name"] in (
                    "streaming.engine", "plans.curate.curate_increment",
                    "streaming.curate.load_curation_index")
            ) / self.n_waves,
        }
        tracer.record("streaming.curate.curate_document_stream", self.t_start,
                      self.t_start + sum(self.wave_s), per_op)
        return self.check()


WORKLOADS = {w.name: w for w in (NightlyRun, XrefResolve, StreamCurate)}
