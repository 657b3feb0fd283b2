"""Versioned statement archive (SURVEY §1.5, §2.1 S9/S10, §2.6 D2).

The reference stores per-run artifacts at ``/artifacts/{dataset}/{version}``
with a ``versions.json`` history window and backfill fallback to the latest
successful version (``zavod/zavod/archive/__init__.py:10-231``). The Spark
rendering: one parquet directory per (dataset, version) + a small JSON
manifest; reads are plain ``spark.read.parquet`` so partition pruning and
filter pushdown apply (P2's ``external`` filter reaches the scan).

At cluster scale the base_dir is an object-store prefix; version listing
reads only the manifest, never the data files.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_VERSION_RE = re.compile(r"^\d{8}-\d{6}(-\d{6})?$")


def new_version_id(now: datetime | None = None) -> str:
    """Sortable run version id (the reference's version ids sort
    lexicographically too, ``zavod/zavod/archive/__init__.py:10-66``).

    Carries a microsecond suffix: two runs starting within the same
    second must NOT share a version — with second granularity the later
    overwrite-write silently merged into the earlier version's path
    (observed as back-to-back streaming micro-batch waves landing as one
    version). Still lexicographically sortable against old 15-char ids
    ("...-083941" < "...-083941-000123" < "...-083942")."""
    now = now or datetime.now(timezone.utc)
    return now.strftime("%Y%m%d-%H%M%S-%f")


class StatementArchive:
    """``spark`` may be ``None`` for the pure-filesystem surface
    (versions/publish/gc) — CLI verbs that never touch data skip the JVM
    spin-up; ``read``/``write`` require a session."""

    def __init__(
        self,
        spark: SparkSession | None,
        base_dir: str,
        bucket_statements: bool = False,
        n_buckets: int = 32,
    ) -> None:
        """``bucket_statements=True`` stores each version as a parquet
        table bucketed (+sorted) by canonical_id. Re-reads then feed the
        entity assembly with a scan whose output partitioning already
        satisfies the groupBy — A1 runs with ZERO exchanges (SCALE.md §1;
        gated in tests/test_plan_quality.py). At 100 TB this removes the
        single biggest shuffle of every re-run/export. Bucket metadata
        lives in the session catalog (a shared metastore on a real
        cluster); a session that lacks the table entry falls back to a
        plain parquet read of the same files — correct, just shuffled."""
        self.spark = spark
        self.base_dir = base_dir
        self.bucket_statements = bucket_statements
        self.n_buckets = n_buckets

    # -- layout ------------------------------------------------------------
    def _dataset_dir(self, dataset: str) -> str:
        return os.path.join(self.base_dir, dataset)

    def version_path(self, dataset: str, version: str) -> str:
        return os.path.join(self._dataset_dir(dataset), version, "statements.parquet")

    def _bucketed_path(self, dataset: str, version: str) -> str:
        return os.path.join(
            self._dataset_dir(dataset), version, "statements_bucketed"
        )

    def _table_name(self, dataset: str, version: str) -> str:
        # scoped to the archive location: two archives in one session
        # holding the same (dataset, version) must not collide in the
        # catalog — a shared name would make is_bucketed() misreport
        # and serve the OTHER archive's files (found by the round-12
        # incremental test suite, where every test archive names its
        # dataset 'fx' with the same version ids)
        import hashlib

        loc = hashlib.md5(
            os.path.abspath(self.base_dir).encode()
        ).hexdigest()[:8]
        return "osp_stmts_" + loc + "_" + re.sub(
            r"[^0-9a-zA-Z]+", "_", f"{dataset}_{version}"
        )

    def is_bucketed(self, dataset: str, version: str) -> bool:
        """True iff this version's read comes off the bucketed table (the
        assembly may then skip its clustering exchange)."""
        if self.spark is None:
            return False
        return self.spark.catalog.tableExists(self._table_name(dataset, version))

    @staticmethod
    def has_bucketed_dirs(base_dir: str, dataset: str) -> bool:
        """Session-free probe: does any version dir of ``dataset`` hold a
        bucketed table's data? Lets a fresh CLI process (no SparkSession)
        decide whether gc needs a session to drop catalog entries without
        paying the JVM spin-up on the common filesystem-only case."""
        ddir = os.path.join(base_dir, dataset)
        try:
            entries = os.listdir(ddir)
        except FileNotFoundError:
            return False
        return any(
            os.path.isdir(os.path.join(ddir, v, "statements_bucketed"))
            for v in entries
        )

    def _manifest_path(self, dataset: str) -> str:
        return os.path.join(self._dataset_dir(dataset), "versions.json")

    # -- manifest (versions.json analogue) ---------------------------------
    def versions(self, dataset: str) -> list[str]:
        try:
            with open(self._manifest_path(dataset)) as fh:
                return json.load(fh)["versions"]
        except FileNotFoundError:
            return []

    def latest(self, dataset: str) -> str | None:
        """Newest RECORDED version — including runs that later failed
        validation (the reference's ``get_latest(backfill=False)``,
        the working-directory view)."""
        versions = self.versions(dataset)
        return versions[-1] if versions else None

    def last_successful(self, dataset: str) -> str | None:
        """The backfill pointer: the newest version whose run completed
        (``zavod/zavod/runtime/versions.py`` ``get_latest`` with backfill —
        a failed run's version never becomes the fallback read)."""
        try:
            with open(self._manifest_path(dataset)) as fh:
                return json.load(fh).get("last_successful")
        except FileNotFoundError:
            return None

    def successful_versions(self, dataset: str) -> list[str]:
        """All versions ever promoted, sorted — the version-history surface
        (``publish_version_history``,
        ``zavod/zavod/archive/__init__.py`` VERSIONS_FILE). Entries whose
        files were gc'd remain listed (history is an audit trail); reads
        resolve only against versions still in the retention window."""
        try:
            with open(self._manifest_path(dataset)) as fh:
                manifest = json.load(fh)
        except FileNotFoundError:
            return []
        succ = manifest.get("successful")
        if succ is None:  # manifests written before the history field
            last = manifest.get("last_successful")
            succ = [last] if last else []
        return sorted(succ)

    def canonical_fp(self, dataset: str, version: str) -> str | None:
        """Fingerprint of the canonical map a version was REKEYED WITH at
        write time (``operators/resolve.mapping_fingerprint``); None for
        versions written without a resolver. An incremental run whose
        current map carries the same fingerprint may consume the stored
        canonical ids as-is — the bucketed clustering on canonical_id
        then survives into J1/D0/D1 with zero re-exchange."""
        try:
            with open(self._manifest_path(dataset)) as fh:
                return json.load(fh).get("canonical_fps", {}).get(version)
        except FileNotFoundError:
            return None

    def _record_version(
        self,
        dataset: str,
        version: str,
        keep: int = 10,
        success: bool = True,
        canonical_fp: str | None = None,
        data_changed: bool = False,
    ) -> None:
        """``data_changed=True`` (the write path) makes ``canonical_fp``
        authoritative for this version — including DELETING a stale
        entry when the overwrite carried no resolver: a fingerprint
        left behind by an earlier write of the same version id would
        attest a rekey the current files no longer have, and the next
        incremental run's fast path would skip a needed prev rekey.
        Promotion-only records (``mark_successful``) never touch it."""
        manifest_versions = self.versions(dataset)
        last = self.last_successful(dataset)
        successful = set(self.successful_versions(dataset))
        try:
            with open(self._manifest_path(dataset)) as fh:
                fps = json.load(fh).get("canonical_fps", {})
        except FileNotFoundError:
            fps = {}
        versions = [v for v in manifest_versions if v != version]
        versions.append(version)
        versions = sorted(versions)[-keep:]  # bounded history window
        if data_changed:
            if canonical_fp is not None:
                fps[version] = canonical_fp
            else:
                fps.pop(version, None)
        # fingerprints follow the retention window (plus the promoted set,
        # which gc never deletes blindly either)
        fps = {
            v: fp for v, fp in fps.items() if v in set(versions) | successful
        }
        if success:
            last = version
            successful.add(version)
        else:
            # a pending/failed RE-record of a previously-promoted id
            # revokes its promoted status — the files now hold the failed
            # write's data, so history and pointer must stop serving it
            successful.discard(version)
            if last == version:
                last = max(successful) if successful else None
        os.makedirs(self._dataset_dir(dataset), exist_ok=True)
        # write-then-rename: a crash mid-dump leaves the previous manifest
        # intact instead of a truncated one that no read can parse
        path = self._manifest_path(dataset)
        tmp = f"{path}.{os.getpid()}.tmp"
        try:
            with open(tmp, "w") as fh:
                json.dump(
                    {
                        "versions": versions,
                        "last_successful": last,
                        "successful": sorted(successful),
                        "canonical_fps": fps,
                    },
                    fh,
                )
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):  # only after a failed write
                os.remove(tmp)

    def resolve_as_of(self, dataset: str, as_of: str) -> str:
        """The newest SUCCESSFUL version whose id is ≤ ``as_of`` and whose
        files still exist. ``as_of`` is version-id format; any prefix is
        inclusive ('20260812' = end of that day).

        Readable = the retention window PLUS the last-successful version:
        gc never deletes the latter, so a lone successful run followed by
        a window's worth of failed writes stays reachable."""
        window = set(self.versions(dataset))
        last = self.last_successful(dataset)
        if last is not None:
            window.add(last)
        bound = as_of + "~"  # '~' sorts after [0-9-]: inclusive prefix
        cands = [
            v for v in self.successful_versions(dataset)
            if v <= bound and v in window
        ]
        if not cands:
            raise FileNotFoundError(
                f"no successful version of {dataset} at or before {as_of}"
            )
        return cands[-1]

    def mark_successful(self, dataset: str, version: str) -> None:
        """Flip the backfill pointer to ``version`` — the publish-time /
        end-of-run promotion (``zavod/zavod/publish.py:63-95`` makes a
        version the released one the same way)."""
        if version not in self.versions(dataset):
            raise ValueError(f"unknown version for {dataset}: {version}")
        self._record_version(dataset, version, success=True)

    def gc(self, dataset: str) -> list[str]:
        """Delete version directories that have fallen out of the
        manifest's retention window (``_record_version`` keeps the newest
        10 ids but never removed the dropped versions' files — at scale
        that is leaked storage every run). The last-successful version is
        never deleted even if the manifest somehow dropped it. Returns
        the deleted version ids."""
        import shutil

        keep = set(self.versions(dataset))
        last = self.last_successful(dataset)
        if last is not None:
            keep.add(last)
        ddir = self._dataset_dir(dataset)
        deleted: list[str] = []
        try:
            entries = sorted(os.listdir(ddir))
        except FileNotFoundError:
            return deleted
        for name in entries:
            path = os.path.join(ddir, name)
            if not os.path.isdir(path) or not _VERSION_RE.match(name):
                continue
            if name in keep:
                continue
            shutil.rmtree(path)
            # drop the bucketed table's catalog entry with its files, or
            # is_bucketed() would misreport and reads would fail at scan
            # time instead of missing cleanly
            if self.spark is not None:
                self.spark.sql(
                    f"DROP TABLE IF EXISTS {self._table_name(dataset, name)}"
                )
            deleted.append(name)
        return deleted

    # -- write (statements.pack analogue) ----------------------------------
    def write(
        self,
        statements: DataFrame,
        dataset: str,
        version: str | None = None,
        success: bool = True,
        canonical_fp: str | None = None,
    ) -> str:
        """Write one version. ``success=False`` records the version (so it
        is inspectable/debuggable) WITHOUT advancing the backfill pointer —
        the run plan writes pending and promotes via ``mark_successful``
        once validation passes, so an aborted run can't poison backfill
        (the reference's archive_failure/publish split)."""
        version = version or new_version_id()
        if not _VERSION_RE.match(version):
            raise ValueError(f"bad version id: {version}")
        if self.bucket_statements and "canonical_id" in statements.columns:
            (
                statements.write.bucketBy(self.n_buckets, "canonical_id")
                .sortBy("canonical_id")
                .option("path", self._bucketed_path(dataset, version))
                .format("parquet")
                .mode("overwrite")
                .saveAsTable(self._table_name(dataset, version))
            )
        else:
            statements.write.mode("overwrite").parquet(
                self.version_path(dataset, version)
            )
        self._record_version(
            dataset,
            version,
            success=success,
            canonical_fp=canonical_fp,
            data_changed=True,
        )
        return version

    # -- read with backfill fallback (S9/S10) ------------------------------
    def read(self, dataset: str, version: str | None = None,
             external: bool = False, as_of: str | None = None) -> DataFrame:
        """Read one dataset's statements; version=None falls back to the
        latest SUCCESSFUL run (``zavod/zavod/archive/__init__.py:155-231``
        — never a version whose run failed validation).
        external=False drops enrichment candidates at the scan (P2).

        ``as_of`` (time travel): the newest successful version whose id is
        ≤ the given timestamp — version-id format (YYYYMMDD-HHMMSS[-µs]);
        any prefix works and is inclusive (``"20260812"`` means end of
        that day). Only versions still inside the retention window
        resolve; gc'd history raises."""
        if version is None and as_of is not None:
            version = self.resolve_as_of(dataset, as_of)
        if version is None:
            # NEVER fall back to latest(): with only pending/failed writes
            # recorded, serving the newest version would be exactly the
            # backfill poisoning the pending-write/mark_successful split
            # prevents.
            version = self.last_successful(dataset)
        if version is None:
            raise FileNotFoundError(
                f"no successful versions for dataset {dataset}"
            )
        if self.is_bucketed(dataset, version):
            df = self.spark.table(self._table_name(dataset, version))
        elif os.path.isdir(self._bucketed_path(dataset, version)):
            # bucketed files from another session: readable as plain
            # parquet (bucket layout lost without the catalog entry)
            df = self.spark.read.parquet(self._bucketed_path(dataset, version))
        else:
            df = self.spark.read.parquet(self.version_path(dataset, version))
        if not external and "external" in df.columns:
            df = df.filter(~F.col("external"))
        return df

    # -- small-file compaction (SCALE.md §13) ------------------------------
    def compact(
        self,
        dataset: str,
        target_bytes: int = 128 * 1024 * 1024,
        version: str | None = None,
    ) -> str | None:
        """Rewrite a version's statements into ~target-size files as a
        NEW successful version (the source version stays immutable and
        ages out via the retention window + ``gc``).

        The bucket count comes from the next-fit planner
        (``operators/compaction.py``) over the version's file manifest;
        the rewrite is one round-robin shuffle into that many
        partitions, so every byte moves once and the output layout is a
        plain version directory the normal read path serves. Returns
        the new version id, or None when the version is already compact
        (bucket count == file count — a rewrite would only churn).
        Bucketed versions are already file-count-bounded by
        ``n_buckets`` and are refused."""
        version = version or self.last_successful(dataset)
        if version is None:
            raise FileNotFoundError(f"no successful versions for {dataset}")
        if self.is_bucketed(dataset, version) or os.path.isdir(
            self._bucketed_path(dataset, version)
        ):
            raise ValueError(
                f"version {version} is bucketed — file count is already "
                f"bounded by n_buckets; compaction applies to plain versions"
            )
        from opensanctions_spark.operators.compaction import plan_for_dir

        plan = plan_for_dir(
            self.spark, self.version_path(dataset, version), target_bytes
        )
        counts = plan.agg(
            F.count(F.lit(1)).alias("files"),
            F.countDistinct("bucket").alias("buckets"),
        ).collect()[0]
        if counts["files"] <= counts["buckets"]:
            return None
        df = self.read(dataset, version=version, external=True)
        # the rewrite is byte-identical data: the source version's
        # resolver fingerprint (if any) stays true for the successor
        return self.write(
            df.repartition(int(counts["buckets"])),
            dataset,
            success=True,
            canonical_fp=self.canonical_fp(dataset, version),
        )

    def read_collection(self, datasets: list[str], external: bool = False) -> DataFrame:
        """Collection scope = union of all leaf datasets' latest statements
        (D2, ``zavod/zavod/archive/__init__.py:299-303``)."""
        frames = [self.read(d, external=external) for d in datasets]
        out = frames[0]
        for df in frames[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out
