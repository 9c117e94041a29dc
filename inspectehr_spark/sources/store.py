"""Snapshot-store interface: the commit-protocol surface the pipeline
consumes, with two interchangeable implementations.

`pipeline/run.py` needs exactly five operations from its sink
(reference analog: `write_notify`, /root/reference/R/utils.R:53-67 —
write the table, then atomically announce it):

- ``latest_version()``                      — newest committed version
- ``write_table_data(df, name, hint, …)``   — stage rows, invisible
- ``commit_transaction(tables, extra, …)``  — ONE atomic publish of all
                                              staged tables + the resume
                                              record
- ``read_table(spark, name, version)``      — committed data only, with
                                              time travel
- ``latest_extra()``                        — the resume/replay payload

`FileSnapshotStore` wraps the file-manifest shim (sources/snapshots.py)
— the full-capability default in the catalog-less sandbox.

`TableCatalogStore` is the deployment adapter: it re-expresses the SAME
manifest protocol through ``DataFrame.writeTo`` against any Spark V2
catalog (Iceberg/Delta in production; the built-in session catalog in
the contract tests, which is how the two implementations are asserted
semantics-identical without an Iceberg jar in this container):

- staged rows land as writeTo-appends to ``<prefix>_<name>`` tagged
  with a uuid ``_commit_id`` column — present in storage, INVISIBLE to
  readers (every read filters on the committed-id set);
- ``commit_transaction`` appends ONE ROW to ``<prefix>__commits``
  carrying the full resolved manifest (version, per-table commit-id
  lists, extra JSON). A single-table append is the one operation every
  real catalog makes atomic, so all-or-nothing multi-table visibility
  reduces to it — exactly the file shim's link(2) publish, one level up;
- time travel reads an older ``__commits`` row; history is append-only.

Concurrency contract (documented, weaker than the shim's): version
numbers are assigned optimistically; two racing committers can both
publish rows claiming the same version, and the reader resolves the
order deterministically by (version, committed_at, commit row uuid).
Nothing is lost — both commits' tables stay readable — but the shim's
link(2) loser-retries arbitration (and its corrective-merge machinery)
is the stronger protocol; a production Iceberg deployment would instead
lean on the catalog's own CAS. The adapter is therefore the right shape
for single-writer-per-sink jobs (the pipeline's shape: one driver per
out_dir), not a general multi-writer table format.
"""

from __future__ import annotations

import json
import time
import uuid
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inspectehr_spark.sources import snapshots as snap


class SnapshotStore(Protocol):
    """The sink surface pipeline/run.py consumes — nothing more."""

    def latest_version(self) -> int | None: ...

    def write_table_data(
        self, df: DataFrame, name: str, version_hint: int,
        partition_col: str | None = None,
    ) -> str: ...

    def commit_transaction(
        self, tables_rel: dict[str, list[str]],
        extra: dict | None = None, keep_prior: bool = True,
    ) -> int: ...

    def read_table(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> DataFrame: ...

    def latest_extra(self) -> dict: ...


class FileSnapshotStore:
    """The file-manifest shim behind the interface (full capability:
    link(2) commit arbitration, corrective merges, vacuum, compaction)."""

    def __init__(self, root: str):
        self.root = root

    def latest_version(self) -> int | None:
        return snap.latest_version(self.root)

    def write_table_data(
        self, df: DataFrame, name: str, version_hint: int,
        partition_col: str | None = None,
    ) -> str:
        return snap.write_table_data(
            df, self.root, name, version_hint, partition_col=partition_col
        )

    def commit_transaction(
        self, tables_rel: dict[str, list[str]],
        extra: dict | None = None, keep_prior: bool = True,
    ) -> int:
        return snap.commit_transaction(
            self.root, tables_rel, extra=extra, keep_prior=keep_prior
        )

    def read_table(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> DataFrame:
        return snap.read_table(spark, self.root, name, version=version)

    def latest_extra(self) -> dict:
        return snap.latest_extra(self.root)


class TableCatalogStore:
    """The writeTo()-shaped deployment adapter (see module docstring).

    `prefix` is a dotted catalog/namespace table prefix, e.g.
    ``spark_catalog.default.pipeline`` → data tables
    ``…pipeline_decisions``, commit log ``…pipeline__commits``.
    `fmt` is the provider passed to ``writeTo().using()`` for table
    CREATION (ignored on append); an Iceberg catalog would take
    ``fmt="iceberg"``.
    """

    _COMMITS_SCHEMA = (
        "version long, committed_at double, commit_uuid string, "
        "operation string, tables_json string, extra_json string"
    )

    def __init__(self, spark: SparkSession, prefix: str, fmt: str = "parquet"):
        self.spark = spark
        self.prefix = prefix
        self.fmt = fmt

    # -- helpers ----------------------------------------------------------
    def _tbl(self, name: str) -> str:
        return f"{self.prefix}_{name}"

    def _commits_tbl(self) -> str:
        return f"{self.prefix}__commits"

    def _append(
        self, df: DataFrame, ident: str, partition_col: str | None = None
    ) -> None:
        """Create-or-append through the V2 writeTo surface. A real V2
        catalog (Iceberg/Delta) takes the `.append()` path — its atomic
        commit is what the protocol's visibility guarantee rides on. The
        built-in session catalog registers file-format tables as V1, which
        writeTo refuses; those fall back to `saveAsTable(mode="append")`
        — fine for the contract tests' single-writer scenarios, and the
        class contract is single-writer-per-sink anyway (module
        docstring)."""
        from pyspark.errors.exceptions.captured import AnalysisException

        if not self.spark.catalog.tableExists(ident):
            w = df.writeTo(ident).using(self.fmt)
            if partition_col:
                w = w.partitionedBy(F.col(partition_col))
            w.create()
            return
        try:
            df.writeTo(ident).append()
        except AnalysisException as e:
            if "v1 table" not in str(e):
                raise
            df.write.mode("append").format(self.fmt).saveAsTable(ident)

    def _commits(self) -> list[dict]:
        """Commit rows, oldest→newest in the deterministic resolution
        order (version, committed_at, commit_uuid)."""
        try:
            rows = self.spark.table(self._commits_tbl()).collect()
        except Exception:
            return []
        rows = sorted(
            rows, key=lambda r: (r["version"], r["committed_at"], r["commit_uuid"])
        )
        return [
            {
                "version": r["version"],
                "operation": r["operation"],
                "tables": json.loads(r["tables_json"]),
                "extra": json.loads(r["extra_json"]),
            }
            for r in rows
        ]

    def _manifest(self, version: int | None = None) -> dict | None:
        commits = self._commits()
        if not commits:
            return None
        if version is None:
            return commits[-1]
        got = [c for c in commits if c["version"] <= version]
        return got[-1] if got else None

    # -- SnapshotStore surface --------------------------------------------
    def latest_version(self) -> int | None:
        m = self._manifest()
        return m["version"] if m else None

    def write_table_data(
        self, df: DataFrame, name: str, version_hint: int,
        partition_col: str | None = None,
    ) -> str:
        """Append staged rows tagged with a fresh commit id; the id IS the
        'relative path' token the commit names. Rows are invisible until a
        __commits row references the id. `partition_col` becomes the
        table's partitioning on creation (appends inherit it)."""
        cid = f"c{version_hint}-{uuid.uuid4().hex[:12]}"
        tagged = df.withColumn("_commit_id", F.lit(cid))
        self._append(tagged, self._tbl(name), partition_col=partition_col)
        return cid

    def commit_transaction(
        self, tables_rel: dict[str, list[str]],
        extra: dict | None = None, keep_prior: bool = True,
    ) -> int:
        prior = self._manifest()
        tbls = {k: list(v) for k, v in tables_rel.items()}
        ex = dict(extra or {})
        if keep_prior and prior is not None:
            for k, ids in prior["tables"].items():
                tbls[k] = ids + tbls.get(k, [])
            ex = snap._merge_extra(prior["extra"], ex)
        version = (prior["version"] if prior else 0) + 1
        row = self.spark.createDataFrame(
            [(
                version, time.time(), uuid.uuid4().hex,
                "txn" if keep_prior else "txn-replace",
                json.dumps(tbls), json.dumps(ex),
            )],
            self._COMMITS_SCHEMA,
        )
        self._append(row, self._commits_tbl())
        return version

    def read_table(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> DataFrame:
        m = self._manifest(version)
        if m is None:
            raise FileNotFoundError(f"no commits at {self._commits_tbl()}")
        ids = m["tables"].get(name, [])
        if not ids:
            raise FileNotFoundError(
                f"table {name!r} empty at {self.prefix} v{m['version']}"
            )
        # committed-id set is manifest-sized: a literal IN filter (an InSet
        # hash lookup past 10 ids), no join, no job to ship the id list
        return (
            spark.table(self._tbl(name))
            .filter(F.col("_commit_id").isin(ids))
            .drop("_commit_id")
        )

    def latest_extra(self) -> dict:
        m = self._manifest()
        return m["extra"] if m else {}
