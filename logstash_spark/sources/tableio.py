"""Snapshot-manifested table layer: Iceberg when available, else parquet
directories with explicit JSON snapshot manifests.

Why (SURVEY.md §7.0): the north rule requires sinks "resumable from
Iceberg snapshot checkpoints with per-partition lineage". This sandbox
has no Iceberg runtime jar, so `SnapshotTable` reproduces the two Iceberg
properties the pipeline depends on, behind one seam:

  * atomic snapshot commit — data files land under `data/snap-NNNNNN/`,
    then a manifest `_snapshots/NNNNNN.json` (listing ALL live files +
    app-level metadata) is published via atomic rename. Readers only see
    manifested files; a crash mid-write leaves an orphan dir, never a
    half-visible table.
  * resume metadata — each manifest carries a `lineage` payload (e.g.
    which input partitions were processed) that a restarted job reads to
    skip completed work idempotently.

On a real cluster, `IcebergTable` (below — same interface) delegates
both to Iceberg's snapshot/commit machinery: path-based HadoopTables
identifiers so every sink directory IS an Iceberg table, app metadata
carried as snapshot summary properties (`snapshot-property.*` write
options), time travel via `snapshot-id`. `open_table()` picks the
implementation per runtime. Logstash analog: the persisted queue's
checkpoint files (org/logstash/ackedqueue/Checkpoint.java) — ours
checkpoints plans, not events.
"""

from __future__ import annotations

import functools
import json
import os
import uuid as _uuid
from dataclasses import dataclass
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession

MANIFEST_DIR = "_snapshots"


def iceberg_available(spark: SparkSession) -> bool:
    return _iceberg_on_classpath(spark.sparkContext)


@functools.lru_cache(maxsize=8)
def _iceberg_on_classpath(sc: SparkContext) -> bool:
    """One py4j `Class.forName` probe per SparkContext: a JVM's classpath
    is fixed once it runs, and a failed probe costs a raised
    `ClassNotFoundException` round trip. Keyed on the context, like
    `operators.common.memo_columns`, so a new session probes again."""
    try:
        sc._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


@dataclass
class Snapshot:
    snapshot_id: int
    files: list[str]
    lineage: dict[str, Any]
    meta: dict[str, Any]


#: Parquet codec of every table the pipeline writes: batch sinks, side
#: tables, Iceberg appends and streaming micro-batches. zstd at
#: parquet-mr's default level (3), Iceberg's own default since 1.4. On
#: the `tokens` payload snappy saves under 1 %; zstd cuts the
#: flagship's sink bytes by ~60 %. The session default (snappy) stays
#: for every other write, such as `write_bucketed` and staged input.
TABLE_CODEC = "zstd"


def write_table(w: DataFrameWriter, path: str, fmt: str = "parquet") -> None:
    """Save the configured writer `w` as a `fmt` table at `path`,
    compressed with `TABLE_CODEC`: Spark's `compression` option for
    parquet, Iceberg's `compression-codec` write option (which overrides
    the table's `write.parquet.compression-codec` property) for Iceberg."""
    key = "compression-codec" if fmt == "iceberg" else "compression"
    w.format(fmt).option(key, TABLE_CODEC).save(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Write `df` as a parquet directory at `path`, replacing what is there."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    write_table(w, path)


class SnapshotTable:
    """Parquet-directory table with atomic JSON snapshot manifests."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- snapshot bookkeeping ------------------------------------------------

    def snapshots(self) -> list[int]:
        d = os.path.join(self.root, MANIFEST_DIR)
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(d) if f.endswith(".json")
        )

    def latest(self) -> Snapshot | None:
        ids = self.snapshots()
        return self.load_snapshot(ids[-1]) if ids else None

    def load_snapshot(self, snapshot_id: int) -> Snapshot:
        p = os.path.join(self.root, MANIFEST_DIR, f"{snapshot_id:06d}.json")
        with open(p) as f:
            d = json.load(f)
        return Snapshot(d["snapshot_id"], d["files"], d.get("lineage", {}), d.get("meta", {}))

    # -- write path ------------------------------------------------------------

    def append(
        self,
        df: DataFrame | str,
        *,
        lineage: dict[str, Any] | None = None,
        meta: dict[str, Any] | None = None,
        partition_by: list[str] | None = None,
    ) -> Snapshot:
        """Publish a new snapshot = previous live files + one new dir.

        `df` is either a frame, written here, or the path of a parquet
        directory an earlier write staged on the same filesystem, which
        is renamed to `data/snap-NNNNNN-*` (its layout is kept, so
        `partition_by` does not apply). Staging lets one partitioned
        write feed several tables, and lets several write jobs run at
        once while their tables still commit one by one."""
        if isinstance(df, str):
            return self._commit(lambda out: os.rename(df, out), lineage, meta)
        return self._commit(lambda out: write_parquet(df, out, partition_by), lineage, meta)

    def _commit(self, place, lineage, meta) -> Snapshot:
        """Materialize the new data dir via `place(abs_path)`, then
        publish the manifest that makes it visible."""
        prev = self.latest()
        sid = (prev.snapshot_id + 1) if prev else 1
        data_dir = os.path.join("data", f"snap-{sid:06d}-{_uuid.uuid4().hex[:8]}")
        place(os.path.join(self.root, data_dir))

        new_files = [data_dir]
        # Optimistic-concurrency publish (Iceberg's commit loop in
        # miniature): the manifest is created with O_EXCL so two
        # concurrent appenders can never clobber each other's snapshot —
        # the loser re-reads latest() and retries with the next id and a
        # rebased file list.
        while True:
            files = (prev.files if prev else []) + new_files
            merged_lineage = dict(prev.lineage) if prev else {}
            for k, v in (lineage or {}).items():
                merged_lineage[k] = v
            manifest = {
                "snapshot_id": sid,
                "files": files,
                "new_files": new_files,
                "lineage": merged_lineage,
                "meta": meta or {},
            }
            final = os.path.join(self.root, MANIFEST_DIR, f"{sid:06d}.json")
            tmp = final + f".tmp-{_uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(manifest, f, indent=1, sort_keys=True)
            try:
                # atomic create-if-absent; rename would silently overwrite
                os.link(tmp, final)
                os.unlink(tmp)
                break
            except FileExistsError:
                os.unlink(tmp)
                prev = self.latest()
                sid = (prev.snapshot_id + 1) if prev else 1
        return Snapshot(sid, files, merged_lineage, meta or {})

    # -- read path ---------------------------------------------------------------

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        snap = (
            self.load_snapshot(snapshot_id) if snapshot_id is not None else self.latest()
        )
        if snap is None or not snap.files:
            raise FileNotFoundError(f"no committed snapshots in {self.root}")
        paths = [os.path.join(self.root, f) for f in snap.files]
        return spark.read.option("mergeSchema", "false").parquet(*paths)

    def _sibling(self, name: str) -> SnapshotTable:
        """The table `name` in this table's parent directory."""
        return SnapshotTable(os.path.join(os.path.dirname(self.root.rstrip("/")), name))

    def processed_partitions(
        self, spark: SparkSession, *, run_id: str | None = None
    ) -> set[int]:
        """Input-partition watermark for resume.

        Per-partition detail lives in the sibling `_sink_lineage` table
        (the manifest only carries the pointer — unbounded detail never
        enters the driver-side JSON): this reads the partition_ids
        recorded for `run_id` (default: the latest snapshot's run_id) of
        THIS sink's lineage. Empty set when no lineage exists yet."""
        snap = self.latest()
        if not snap:
            return set()
        if run_id is None:
            run_id = snap.lineage.get("run_id")
        detail = snap.lineage.get("detail_table")
        if run_id is None or detail is None:
            return set()
        sink = snap.meta.get("sink", os.path.basename(self.root.rstrip("/")))
        try:
            ldf = self._sibling(detail).read(spark)
        except FileNotFoundError:
            return set()
        from pyspark.sql import functions as F

        rows = (
            ldf.where((F.col("run_id") == run_id) & (F.col("sink") == sink))
            .select("partition_id")
            .distinct()
            .collect()
        )
        return {int(r["partition_id"]) for r in rows}

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        *,
        id_col: str = "doc_id",
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """Incremental-scan analog (Iceberg `incremental read` /
        changelog scan): the row-level delta between two committed
        snapshots of this table, computed content-wise via
        `snapshot_diff`. A real Iceberg catalog answers this from
        manifest metadata without reading unchanged files; the snapshot
        seam reproduces the same CONTRACT (same rows out) with one
        full-outer join so resume logic written against it ports
        unchanged."""
        old = self.read(spark, from_snapshot_id)
        new = self.read(spark, to_snapshot_id)
        return snapshot_diff(old, new, id_col=id_col, compare_cols=compare_cols)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    id_col: str = "doc_id",
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
    carry_payload: bool = True,
) -> DataFrame:
    """Row-level change-data-capture between two versions of a keyed
    table: emit (id, change) with change ∈ insert / delete / update
    (and optionally unchanged), where update is decided by an md5
    fingerprint over `compare_cols` (default: all shared non-id
    columns, in name order). The CDC feed a downstream incremental
    pipeline consumes to reprocess only what moved between crawl or
    ingest snapshots — the batch analog of the file input's
    sincedb tail.

    With `carry_payload=True` (default) the new-side payload columns
    ride along (null for deletes) so the consumer can act on
    inserts/updates without a second read.

    The fingerprint is null-safe and boundary-safe: each compare column
    hashes independently (NULL gets its own tag, so NULL vs '' vs a
    value containing the separator can never collide) and the row
    fingerprint is the hash of those fixed-width digests.

    Scale topology: ONE full-outer shuffle join hash-partitioned on the
    id. The old side always prunes to (id, fingerprint); with
    `carry_payload=True` the NEW side's payload travels through that
    exchange — the right trade when most rows change or the payload is
    narrow. For a low change-rate over a wide table, pass
    `carry_payload=False` to get the ids-only delta (both sides prune
    to id + 32-byte fingerprint) and join the change set back to the
    new snapshot yourself — broadcastable when the delta is small.
    Either way: no window, no global sort, no driver state. Against a
    real Iceberg catalog, `IcebergTable`'s metadata would skip
    unchanged FILES entirely; this content diff is the engine-portable
    fallback with identical output."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    if compare_cols is None:
        shared = [c for c in new.columns if c in set(old.columns)]
        compare_cols = sorted(c for c in shared if c != id_col)
    # null-safe per-column digests: NULL and values are tagged onto
    # disjoint preimages, and fixed-width digests make the row concat
    # unambiguous regardless of value content
    col_fp = lambda c: F.md5(  # noqa: E731
        F.when(F.col(c).isNull(), F.lit("n")).otherwise(
            F.concat(F.lit("v"), F.col(c).cast("string"))
        )
    )
    fp = lambda df: F.md5(  # noqa: E731
        F.concat(*[col_fp(c) for c in compare_cols])
    )
    o = old.select(F.col(id_col), fp(old).alias("_fp_old"))
    payload = (
        [c for c in new.columns if c != id_col] if carry_payload else []
    )
    n = new.select(F.col(id_col), fp(new).alias("_fp_new"), *payload)
    j = o.join(n, id_col, "full_outer")
    change = (
        F.when(F.col("_fp_old").isNull(), F.lit("insert"))
        .when(F.col("_fp_new").isNull(), F.lit("delete"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.withColumn("change", change).drop("_fp_old", "_fp_new")
    if not include_unchanged:
        out = out.where(F.col("change") != "unchanged")
    return out.select(id_col, "change", *payload)


class IcebergTable:
    """`SnapshotTable` interface over a real Iceberg runtime.

    Path-based identifiers (Iceberg HadoopTables): every sink directory
    is itself an Iceberg table, so the sinks_root layout is identical to
    the parquet fallback's. App-level `lineage`/`meta` payloads travel as
    snapshot SUMMARY PROPERTIES (the public `snapshot-property.<key>`
    write option), so resume reads them back from the `#snapshots`
    metadata table instead of a side JSON. Not exercisable in this
    sandbox (no iceberg-spark-runtime jar — `iceberg_available()` is the
    guard); the fallback reproduces the two properties the pipeline
    needs. Reference intent: north-rule "resumable from Iceberg snapshot
    checkpoints".
    """

    def __init__(self, root: str, spark: SparkSession):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath — use SnapshotTable "
                "(open_table(fmt='auto') does this automatically)"
            )
        self.root = root
        self.spark = spark

    # -- snapshot bookkeeping ----------------------------------------------

    def _snapshots_df(self) -> DataFrame:
        return self.spark.read.format("iceberg").load(f"{self.root}#snapshots")

    def snapshots(self) -> list[int]:
        try:
            rows = self._snapshots_df().select("snapshot_id").collect()
        except Exception:
            return []
        return sorted(int(r["snapshot_id"]) for r in rows)

    def latest(self) -> Snapshot | None:
        try:
            row = (
                self._snapshots_df()
                .orderBy("committed_at", ascending=False)
                .head()
            )
        except Exception:
            return None
        return self._to_snapshot(row) if row else None

    def load_snapshot(self, snapshot_id: int) -> Snapshot:
        from pyspark.sql import functions as F

        row = (
            self._snapshots_df()
            .where(F.col("snapshot_id") == snapshot_id)
            .head()
        )
        if row is None:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} not in iceberg table {self.root}"
            )
        return self._to_snapshot(row)

    @staticmethod
    def _to_snapshot(row: Any) -> Snapshot:
        summary = dict(row["summary"] or {})
        lineage = json.loads(summary.get("lineage", "{}"))
        meta = json.loads(summary.get("app-meta", "{}"))
        # data files are Iceberg's concern; the interface's `files` field
        # is only informational here
        return Snapshot(int(row["snapshot_id"]), [], lineage, meta)

    # -- write path ----------------------------------------------------------

    def append(
        self,
        df: DataFrame | str,
        *,
        lineage: dict[str, Any] | None = None,
        meta: dict[str, Any] | None = None,
        partition_by: list[str] | None = None,
    ) -> Snapshot:
        """Append `df` as one Iceberg snapshot. As in `SnapshotTable.append`,
        `df` may instead be the path of a staged parquet directory: its
        rows are read back and appended."""
        if isinstance(df, str):
            df = self.spark.read.parquet(df)
        prev = self.latest()
        merged_lineage = dict(prev.lineage) if prev else {}
        merged_lineage.update(lineage or {})
        w = (
            df.write.mode("append")
            .option("snapshot-property.lineage", json.dumps(merged_lineage))
            .option("snapshot-property.app-meta", json.dumps(meta or {}))
        )
        if partition_by:
            # first write creates the table; Iceberg partition spec is
            # fixed at creation (evolution via ALTER on real clusters)
            w = w.partitionBy(*partition_by)
        write_table(w, self.root, "iceberg")
        snap = self.latest()
        assert snap is not None  # the append just committed one
        return snap

    # -- read path -------------------------------------------------------------

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        r = spark.read.format("iceberg")
        if snapshot_id is not None:
            r = r.option("snapshot-id", str(snapshot_id))
        try:
            return r.load(self.root)
        except Exception as e:  # normalize with SnapshotTable's contract
            raise FileNotFoundError(
                f"no committed snapshots in {self.root}"
            ) from e

    def _sibling(self, name: str) -> IcebergTable:
        """The table `name` in this table's parent directory."""
        return IcebergTable(
            os.path.join(os.path.dirname(self.root.rstrip("/")), name), self.spark
        )

    processed_partitions = SnapshotTable.processed_partitions


def open_table(
    root: str,
    spark: SparkSession | None = None,
    fmt: str = "auto",
) -> SnapshotTable | IcebergTable:
    """Table-layer factory: `fmt` ∈ {'auto', 'iceberg', 'snapshot'}.

    'auto' (the default everywhere) uses Iceberg when the runtime jar is
    on the classpath and falls back to the parquet snapshot layout
    otherwise — so the same pipeline code runs unchanged in this sandbox
    and on an Iceberg-equipped cluster."""
    if fmt == "iceberg":
        if spark is None:
            raise ValueError("fmt='iceberg' requires a SparkSession")
        return IcebergTable(root, spark)
    if fmt == "auto" and spark is not None and iceberg_available(spark):
        return IcebergTable(root, spark)
    if fmt not in ("auto", "snapshot"):
        raise ValueError(f"unknown table format {fmt!r}")
    return SnapshotTable(root)


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    *,
    buckets: int,
    key: str | list[str],
    sort: bool = True,
    mode: str = "overwrite",
) -> DataFrame:
    """Hash-bucketed external parquet table — the CO-LOCATED-JOIN seam.

    Two tables bucketed by the same key with the same bucket count join
    with ZERO Exchange on either side (plan-pinned in
    tests/test_plan_shape.py): Spark's storage-bucketing contract says
    each bucket file holds exactly the rows whose
    `hash(key) mod buckets` matches, so a sort-merge join can zip bucket
    i against bucket i directly. At 100 TB this is THE repeated-join
    amortization: pay one shuffle at write time (here: an explicit
    `repartition(buckets, key)` so each bucket lands in ONE file instead
    of one-file-per-task-per-bucket small-file spray), then every
    downstream join/groupBy on that key is exchange-free. The same
    declaration maps to Iceberg's `bucket(N, key)` partition transform +
    storage-partitioned joins on a real cluster; this sandbox uses the
    session catalog (in-memory), so bucket METADATA is per-session while
    the parquet files themselves are durable at `path` — re-register in
    a new session by calling this again or `CREATE TABLE ... USING
    parquet CLUSTERED BY`.

    `sort=True` additionally sorts within buckets by the key, letting
    the merge join skip its Sort when files-per-bucket is 1.

    Returns the registered table (read back through the catalog so the
    scan carries the bucketing spec)."""
    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else list(key)
    spark = df.sparkSession
    writer = (
        df.repartition(buckets, *[F.col(k) for k in keys])
        .write.format("parquet")
        .mode(mode)
        .bucketBy(buckets, keys[0], *keys[1:])
    )
    if sort:
        writer = writer.sortBy(keys[0], *keys[1:])
    writer.option("path", os.path.abspath(path)).saveAsTable(name)
    return spark.table(name)
