"""Spec → DataFrame plan → multi-sink fan-out execution.

The Logstash hot loop (SURVEY.md §3.2: queue → filter datasets →
output delegators) becomes ONE lazily-planned DataFrame:

    read → parse/enrich columns → route flags → persist
      → stage, each write into _fanout_staging/<run_id>/<k>:
          first and alone: the _sink_lineage write (materializes the
            persisted frame, observes the per-sink totals)
          then all jobs at once:
            ONE fanout_rows + rebalance(fan-out col) + partitioned
              write shared by the plain sinks
            one rebalanced write per DLQ / codec / partition_by /
              drop_columns / zero-row sink (by its partition_by
              columns, if any)
            _aggregates, _metrics, _lineage side tables
      → commit, one table at a time: _sink_lineage, the sinks in spec
        order (each shared-write partition renamed into its own table),
        then _aggregates, _metrics, _lineage

Deliberate physical choices (SURVEY.md §4/§7.3 — the only places Spark
needs a human decision):
  * `persist()` exactly once before fan-out — Spark does not share work
    across write actions, and the parse stage is the expensive part;
  * one write job for every sink on the default SinkSpec instead of one
    filtered write per sink: at batch sizes the driver's per-job cost,
    not rows, dominates a run, and Logstash likewise hands each batch to
    all output delegators in one pass;
  * per-sink totals observed (`DataFrame.observe`) on the
    `_sink_lineage` write that already runs, not read back;
  * stage concurrently, commit serially: at batch sizes each write
    costs ~0.2-0.3 s of driver and job latency even over a few dozen
    rows, so every write after `_sink_lineage` runs at the same time
    from one thread pool (sized to the writes, tasks wrapped by
    `inheritable_thread_target` so their jobs stay in the caller's job
    group), into its own staging dir; once every job has finished, the
    tables publish one by one, `_sink_lineage` first (Iceberg sinks and
    side tables write in that commit phase). Logstash likewise hands
    a batch to every output delegator and acks it once all have it
    (SURVEY.md §3.2). A failed write commits nothing. The lineage write
    runs before the others, alone: it fills the persisted frame's
    cache, which each write started beside it would fill again in its
    own job (19 jobs per flagship run, not 14);
  * files sized by AQE per table, not one per input task: every staged
    sink write carries a `REBALANCE` hint by the table's partition
    columns (the shared write's fan-out column, a sink's `partition_by`,
    none for the other own writes), so AQE coalesces small partitions
    and splits any above `advisoryPartitionSizeInBytes`. An
    unrebalanced write makes one file per input task in every sink the
    task routes to, each with its own dictionary pages and footer for
    the `tokens` payload (~30 % of the flagship's sink bytes). Not
    `repartition`: a plain hash exchange has no skew split, so one task
    would write a whole sink. The cost is one shuffle of the payload per
    rebalanced write, the same one Iceberg's
    `write.distribution-mode=hash` pays; Iceberg tables keep their own
    write distribution, and the side tables, small post-aggregate
    frames, are left alone: a rebalance would add one shuffle job per
    side table, and on the flagship each is one file already;
  * one Parquet codec for every table, named once in
    `sources/tableio.py` (`TABLE_CODEC`, applied by
    `tableio.write_table` to every staged write, `SnapshotTable`
    frame append, Iceberg append and streaming micro-batch). The
    `tokens` payload is ~90 % of the flagship's bytes, and the session
    default (snappy) saves under 1 % on it. The session default
    itself is left alone, so staged input and `write_bucketed` keep
    it;
  * per-sink aggregates computed from ONE `explode(routes)` frame so all
    sinks share a single shuffle instead of K groupBy jobs;
  * lineage rows derived via `spark_partition_id()` at read time;
  * filter expressions built once per SparkContext: grok, dissect, date,
    tags, `when` conditions, gated projections and routes build their
    Columns through `common.memo_columns`, keyed on the op's arguments
    and every schema-dependent choice, so a rerun of one spec, and every
    streaming micro-batch after the first, reuses them instead of paying
    ~1.7k py4j round trips per flagship build (11.6k for the
    `conf_parse_heavy` chain); Logstash's `ComputeStepSyntaxElement`
    caches its generated compute classes by normalized source the same
    way;
  * resume: a deterministic `run_id` is recorded in each table's snapshot
    lineage; a rerun skips every sink and side table whose latest
    snapshot already carries the run_id (idempotent commit, FIXTURES.md
    F6). The lineage write still runs while any table is left, for its
    observed totals, and is committed only once; a rerun of a finished
    run with no `pipeline:` send runs no Spark job.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from logstash_spark.operators import OPS
from logstash_spark.operators.common import METADATA, memo_columns
from logstash_spark.operators.route import ROUTES, add_routes, fanout_rows, route_filter
from logstash_spark.plans.spec import PipelineSpec, SinkSpec
from logstash_spark.sources.tableio import (
    IcebergTable,
    SnapshotTable,
    iceberg_available,
    open_table,
    write_parquet,
)

#: under `sinks_root`: the uncommitted output of every staged write,
#: one subdirectory per run_id, removed once every table has committed
STAGING_DIR = "_fanout_staging"
#: partition column of the shared write (the sink's 1-based index among
#: the shared sinks); underscores are prepended while a user column
#: already has the name
FANOUT_COL = "_fanout_sink"


@dataclass
class RunResult:
    run_id: str
    sink_counts: dict[str, int] = field(default_factory=dict)
    skipped_sinks: list[str] = field(default_factory=list)
    # virtual `pipeline:` sinks: address → frame handed to downstream
    # pipelines (plans.graph) instead of being written to a table
    address_frames: dict[str, DataFrame] = field(default_factory=dict)


# Row-wise projection ops: output row i is a pure function of input row i
# (no windows, joins on row position, or row multiplicity changes), so a
# `when` gate compiles into a single conditional projection — ONE scan of
# the input, matching DatasetCompiler's per-batch SplitDataset caching
# without any cache. (translate/geoip/cidr join per-row against broadcast
# dicts — still row-wise.)
_ROW_PROJECTION_OPS = {
    "grok", "dissect", "date", "kv", "json", "csv", "useragent", "syslog_pri",
    "translate", "geoip", "cidr", "mutate", "fingerprint", "uuid", "bytes",
    "truncate", "urldecode", "de_dot", "range", "environment",
}


def _apply_gated_projection(df: DataFrame, fn, conf: dict, cond) -> DataFrame | None:
    """Compile `if <cond> { <op> }` into one projection: snapshot the
    pre-op value of every column, apply the op to ALL rows, then select
    if(cond, new, old) per column (null for op-created columns on the
    false branch — same shape unionByName(allowMissingColumns) gave).
    The condition itself is materialized BEFORE the op so an op that
    overwrites a referenced column cannot change the gate. After the
    snapshots, the op's source field(s) (`field`, or grok's `match`-map
    keys) read `when(gate, src)`: null on the false branch, so grok's
    regexp_replace, dissect's regex and date's parsers (all
    null-intolerant) skip rows whose results the restore discards.

    Returns None when the op CHANGES an existing column's data type
    (e.g. `date {target == field}`, string→timestamp): the
    when/otherwise restore would implicitly cast the false branch's
    original value to the new type — a runtime CAST error under ANSI and
    silent nulls otherwise. The caller falls back to the persisted
    filter+union path, which coerces to the union-compatible common type
    exactly like the pre-compile split semantics."""
    orig_cols = tuple(df.columns)
    match = conf.get("match")
    sources = tuple(match) if isinstance(match, dict) else (conf.get("field"),)
    snapshots, gated = _gate_exprs(orig_cols, sources)
    pre = df.withColumn("_when_gate", cond).withColumns(snapshots)
    if gated:
        pre = pre.withColumns(gated)
    applied = fn(pre, **conf)
    in_types = {f.name: f.dataType for f in df.schema.fields}
    for fld in applied.schema.fields:
        if fld.name in in_types and fld.dataType != in_types[fld.name]:
            return None  # type-changing op: caller uses filter+union
    return applied.select(*_restore_exprs(orig_cols, tuple(applied.columns)))


def _q(name: str) -> Column:
    # backtick-quote so literal dots (de_dot's whole use case) are
    # column names, not nested-field paths
    return F.col("`" + name.replace("`", "``") + "`")


@memo_columns
def _gate_exprs(
    cols: tuple[str, ...], sources: tuple[str | None, ...]
) -> tuple[dict[str, Column], dict[str, Column]]:
    """(snapshot of every input column, gated op sources). Snapshots are
    POSITIONAL (_pre_0, _pre_1, ...) — embedding the user column name
    would let name-pattern ops rewrite the snapshot itself (de_dot would
    rename _pre_a.b away and break the false-branch restore)."""
    gate = F.col("_when_gate")
    return (
        {f"_pre_{i}": _q(c) for i, c in enumerate(cols)},
        {s: F.when(gate, _q(s)) for s in sources if s in cols},
    )


@memo_columns
def _restore_exprs(
    cols: tuple[str, ...], applied: tuple[str, ...]
) -> tuple[Column, ...]:
    """The gated projection's output: the op's value where the gate
    holds, else the snapshot (null for op-created columns)."""
    gate = F.col("_when_gate")
    snap = {c: f"_pre_{i}" for i, c in enumerate(cols)}
    out = []
    for c in applied:
        if c == "_when_gate" or c.startswith("_pre_"):
            continue
        if c in snap:
            out.append(F.when(gate, _q(c)).otherwise(_q(snap[c])).alias(c))
        else:
            out.append(F.when(gate, _q(c)).alias(c))
    # columns the op dropped/renamed away still exist for FALSE-branch
    # rows (matches unionByName(allowMissingColumns) split semantics)
    for c in cols:
        if c not in applied:
            out.append(F.when(~gate, _q(snap[c])).alias(c))
    return tuple(out)


def apply_filters(
    df: DataFrame,
    spec: PipelineSpec,
    persist_tracker: list[DataFrame] | None = None,
) -> DataFrame:
    """Apply the ordered filter chain; `when`-gated filters follow
    SplitDataset semantics: op on the true branch, pass-through on the
    false branch. Row-wise ops compile to a single conditional projection
    (one scan); row-multiplicity ops (split/clone/drop/aggregate...) fall
    back to filter+union over a PERSISTED input so nested conditionals
    never re-scan the source (persisted frames are appended to
    `persist_tracker` for the caller to unpersist after its action)."""
    from logstash_spark.operators.route import compile_condition

    for f_ in spec.filters:
        fn = OPS[f_.op]
        if f_.when is None:
            df = fn(df, **f_.conf)
            continue
        cond = F.coalesce(compile_condition(f_.when, df), F.lit(False))
        gated = (
            _apply_gated_projection(df, fn, f_.conf, cond)
            if f_.op in _ROW_PROJECTION_OPS
            else None
        )
        if gated is not None:
            df = gated
        else:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            if persist_tracker is not None:
                persist_tracker.append(df)
            true_df = fn(df.where(cond), **f_.conf)
            false_df = df.where(~cond)
            df = true_df.unionByName(false_df, allowMissingColumns=True)
    return df


def build_plan(
    df: DataFrame,
    spec: PipelineSpec,
    persist_tracker: list[DataFrame] | None = None,
) -> DataFrame:
    """Pure plan construction: filters + route flags. No actions (any
    persists for gated multiplicity ops are lazy and land in
    `persist_tracker`)."""
    df = apply_filters(df, spec, persist_tracker)
    return add_routes(df, spec.routes, else_sink=spec.else_sink)


def _spec_basis(spec: PipelineSpec, drop_before_write: tuple[str, ...] = ()) -> str:
    """The spec's filter chain and sink settings, and the columns every
    sink drops, as deterministic text: a changed grok pattern, sink codec
    or dropped column must change the run_id, or a rerun over the same
    files would resume against stale sinks. Keys are
    sorted; values JSON cannot hold become their `repr` (sets sorted,
    memory addresses stripped, so the text is the same in every
    process)."""
    def stable(o):
        if isinstance(o, (set, frozenset)):
            return sorted(map(stable, o))
        return re.sub(r" at 0x[0-9a-fA-F]+", "", repr(o))

    return json.dumps(
        {
            "filters": [
                {"op": f.op, "conf": f.conf, "when": f.when} for f in spec.filters
            ],
            "sinks": [asdict(s) for s in spec.sinks],
            "drop_before_write": sorted(drop_before_write),
        },
        sort_keys=True,
        default=stable,
    )


def _input_fingerprint(
    df: DataFrame, spec: PipelineSpec, drop_before_write: tuple[str, ...] = ()
) -> str:
    """Deterministic run id from the input's files/plan + spec (routes,
    filter chain, sink settings) + the columns dropped before every
    write, so a restarted identical job maps to the same run (resume
    key).

    File-less inputs (generator / in-memory frames) have no inputFiles,
    which would make the id content-free — a changed `generator count`
    would silently resume against stale sinks. For those, the
    CANONICALIZED analyzed plan joins the basis (exprIds normalized by
    Spark itself, literals preserved): stable for an identical plan, a
    differing plan changes the id. A `LocalRelation` leaf (an Arrow table,
    `static_lookup_df`) canonicalizes without its rows, so for every
    input, file-backed or not, the content hash of each such leaf's rows
    (`data().hashCode()`, the same in every JVM) joins the basis too: a
    changed dictionary joined before `run_pipeline` gets a new run. Limit:
    an RDD leaf (`createDataFrame(list)`) exposes no rows to hash —
    warned below; use file-backed inputs or Arrow-built frames when
    resume must key on its content."""
    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    plan_part, local_rows, rdd_leaf = "", [], False
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        leaves = analyzed.collectLeaves().iterator()
        while leaves.hasNext():
            leaf = leaves.next()
            name = leaf.nodeName()
            if name == "LocalRelation":
                local_rows.append(str(leaf.data().hashCode()))
            rdd_leaf = rdd_leaf or name == "LogicalRDD"
        if not files:
            plan_part = analyzed.canonicalized().toString()
    except Exception:
        pass  # e.g. Spark Connect: no _jdf — files+schema+routes only
    if rdd_leaf:
        import warnings

        warnings.warn(
            "resume run_id cannot see the DATA of RDD-backed in-memory "
            "(createDataFrame of local rows) inputs — identical-schema "
            "reruns with different rows map to the same run; use "
            "file-backed or Arrow-built inputs when resume must key on "
            "content",
            stacklevel=2,
        )
    basis = (
        "|".join(files) + "||" + plan_part + "||"
        + df.schema.simpleString() + "||" + str(spec.routes)
        + "||" + _spec_basis(spec, drop_before_write)
    )
    if local_rows:
        basis += "||" + ",".join(local_rows)
    return hashlib.sha256(basis.encode()).hexdigest()[:16]


def _write_at_once(
    spark: SparkSession, jobs: list[tuple[DataFrame, str, list[str] | None]]
) -> None:
    """Run every staged `(frame, dir, partition_by)` write job at the
    same time, one thread each. The task is wrapped on the calling
    thread, so every job keeps the caller's job group, other local
    properties and session tags. All jobs finish before the first
    failure, if any, is raised."""
    task = inheritable_thread_target(spark)(write_parquet)
    with ThreadPoolExecutor(max_workers=max(1, len(jobs))) as pool:
        futures = [pool.submit(task, *job) for job in jobs]
    for f in futures:
        f.result()


def _clear_staging(staging: str) -> None:
    shutil.rmtree(staging, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(staging))  # only if no other run stages
    except OSError:
        pass


def run_pipeline(
    spark: SparkSession,
    input_df: DataFrame,
    spec: PipelineSpec,
    sinks_root: str,
    *,
    resume: bool = True,
    fail_after_sink: str | None = None,  # test hook (FIXTURES.md F6)
    drop_before_write: tuple[str, ...] = (),
    persist_tracker: list[DataFrame] | None = None,
    table_format: str = "auto",
) -> RunResult:
    """Execute one pipeline: build the plan, persist once, fan out to
    sinks + side tables. Virtual `pipeline:` sinks are NOT written —
    their frames land in `RunResult.address_frames` for plans.graph to
    feed downstream. When `persist_tracker` is given, cached frames are
    appended to it instead of being unpersisted here, so the fan-out
    frame stays alive until every downstream pipeline consuming this
    pipeline's address frames has run.

    `fail_after_sink` names a table (a sink, `_sink_lineage`,
    `_aggregates`, `_metrics` or `_lineage`); the run raises right after
    that table commits, as a crash at that point would stop it."""
    run_id = _input_fingerprint(input_df, spec, drop_before_write)
    if table_format == "auto":
        # one classpath probe per run, not one per table
        table_format = "iceberg" if iceberg_available(spark) else "snapshot"

    def _mk(name: str):
        # Iceberg on equipped clusters, parquet snapshot layout here
        return open_table(os.path.join(sinks_root, name), spark, table_format)

    def _committed(table) -> bool:
        """resume: this run already committed `table` (idempotent rerun)"""
        latest = table.latest()
        return resume and latest is not None and latest.lineage.get("run_id") == run_id

    def _crash_point(name: str) -> None:
        if fail_after_sink == name:
            raise RuntimeError(f"injected failure after {name}")

    # per-partition lineage must be stamped BEFORE any repartitioning
    input_df = input_df.withColumn("_in_part", F.spark_partition_id())

    persisted: list[DataFrame] = []
    routed = build_plan(input_df, spec, persisted)
    routed = routed.persist(StorageLevel.MEMORY_AND_DISK)

    result = RunResult(run_id=run_id)
    sink_names = spec.sink_names()
    try:
        # ---- per-(sink, input-partition) lineage: written DISTRIBUTED --
        # One job writes the (sink, partition, rows) table; the K per-sink
        # totals ride along as observed metrics of that same job. Never
        # O(K*P) driver rows — at 10^6 input partitions x 6 sinks the
        # detail stays in the table.
        obs = Observation()
        per_sink = []
        for i, s in enumerate(sink_names):
            hit = F.col("sink") == s
            per_sink += [
                F.sum(F.when(hit, F.col("rows"))).alias(f"rows_{i}"),
                F.count(F.when(hit, True)).alias(f"parts_{i}"),
            ]
        sink_lineage = (
            routed.select(F.explode(ROUTES).alias("sink"), "_in_part")
            .groupBy("sink", "_in_part")
            .agg(F.count("*").alias("rows"))
            .withColumnRenamed("_in_part", "partition_id")
            .withColumn("run_id", F.lit(run_id))
        )
        if per_sink:
            sink_lineage = sink_lineage.observe(obs, *per_sink)

        # ---- side tables ----
        # aggregates: ONE shuffle for all sinks via explode(routes)
        dims = [d for d in spec.aggregate_dims if d in routed.columns]
        exploded = routed.select(
            F.explode(ROUTES).alias("sink"), *dims,
            *( [spec.aggregate_sum] if spec.aggregate_sum and spec.aggregate_sum in routed.columns else [] ),
            *( ["doc_id"] if "doc_id" in routed.columns else [] ),
        )
        aggs = [F.count("*").alias("cnt")]
        if spec.aggregate_sum and spec.aggregate_sum in routed.columns:
            aggs.append(F.sum(spec.aggregate_sum).alias(f"sum_{spec.aggregate_sum}"))
        if "doc_id" in routed.columns:
            aggs.append(F.approx_count_distinct("doc_id").alias("approx_docs"))
        side = [("_aggregates", exploded.rollup("sink", *dims).agg(*aggs))]
        if spec.metrics_ts and spec.metrics_ts in routed.columns:
            from logstash_spark.operators.aggregate import metrics as metrics_op

            side.append(("_metrics", metrics_op(
                routed, spec.metrics_ts, dims, window_duration=spec.metrics_window
            )))
        # lineage: one row per input partition
        side.append(("_lineage", (
            routed.groupBy("_in_part")
            .agg(
                F.count("*").alias("input_rows"),
                F.sum(F.size(ROUTES)).alias("routed_rows"),
            )
            .withColumnRenamed("_in_part", "partition_id")
            .withColumn("run_id", F.lit(run_id))
        )))

        # ---- which tables to write (idempotent via run_id in lineage) ---
        virtual = spec.virtual_sends()
        sink_specs = {s.name: s for s in spec.sinks}
        pending: list[tuple[str, SnapshotTable | IcebergTable, SinkSpec | None]] = []
        for sink in sink_names:
            if sink in virtual:
                continue
            table = _mk(sink)
            if _committed(table):
                result.skipped_sinks.append(sink)
            else:
                pending.append((sink, table, sink_specs.get(sink)))
        sl_table = _mk("_sink_lineage")
        sl_todo = not _committed(sl_table)
        side_todo = [(n, t, f) for n, f in side if not _committed(t := _mk(n))]
        # a crashed run with this run_id may have left its staging dir
        staging = os.path.join(sinks_root, STAGING_DIR, run_id)
        _clear_staging(staging)
        if not (sl_todo or pending or side_todo or virtual):
            return result  # a rerun of a finished run: nothing to write

        def sink_frame(sink: str, sspec: SinkSpec | None) -> DataFrame:
            """The rows one sink writing on its own receives, shaped for it."""
            out = route_filter(routed, sink).drop(ROUTES, "_in_part", *drop_before_write)
            if sink != spec.dlq_sink:
                # [@metadata] is pipeline-scratch, never serialized
                # (Event.java §getMetadata); the DLQ keeps it — the
                # reference DLQ stores the full event for the replay reader
                out = out.drop(METADATA)
            if sspec is not None:
                if sspec.drop_columns:
                    out = out.drop(*sspec.drop_columns)
                if sspec.codec:
                    # output-side `codec => ...`: serialize before the write
                    from logstash_spark.plans.lscl import apply_encode_codec

                    out = apply_encode_codec(out, sspec.codec, sspec.codec_conf)
            if sink == spec.dlq_sink and "tags" in out.columns:
                # DLQ entries carry failure metadata like the reference's
                # DLQ (org.logstash DLQWriter stores the event + reason):
                # the failure tags that routed the event here.
                out = out.withColumn("_dlq_reason", F.concat_ws(",", F.col("tags")))
            return out

        # ---- stage: every write, planned here, into its own directory
        # under the run's staging dir; the tables commit from there
        # afterwards.
        jobs: list[tuple[DataFrame, str, list[str] | None]] = []

        def stage(frame: DataFrame, partition_by: list[str] | None = None) -> str:
            out = os.path.join(staging, str(len(jobs)))
            jobs.append((frame, out, partition_by))
            return out

        def source(
            table, frame: DataFrame, partition_by=None, *, rebalance: bool = False
        ) -> DataFrame | str:
            """What `table.append` commits: a staged directory, or, for an
            Iceberg table, the frame itself, written in the commit phase
            (Iceberg distributes its own writes). A `rebalance`d frame is
            hash-distributed by its `partition_by` columns (round-robin
            without), so AQE sizes its files by bytes, not by input task."""
            if isinstance(table, SnapshotTable):
                if rebalance:
                    frame = frame.hint("rebalance", *map(_q, partition_by or ()))
                return stage(frame, partition_by)
            return frame

        # (table name, table, what it commits, lineage, meta, partition_by)
        commits: list[tuple] = []
        lineage_dir = stage(sink_lineage)
        if sl_todo:
            commits.append(
                ("_sink_lineage", sl_table, lineage_dir, {"run_id": run_id}, None, None)
            )
        try:
            # The lineage write runs first and alone: it fills `routed`'s
            # cache for every later write, and its observed totals pick
            # the shared write's sinks (started with the others, every
            # write filled the cache in its own job). It runs even when
            # its table is committed: the totals come only from it.
            write_parquet(*jobs[0])
            m = obs.get if per_sink else {}
            totals = {
                s: (int(m[f"rows_{i}"]), int(m[f"parts_{i}"]))
                for i, s in enumerate(sink_names)
                if m[f"parts_{i}"]
            }
            for sink, address in virtual.items():
                # pipeline-to-pipeline send: no table, just the frame
                frame = route_filter(routed, sink).drop(ROUTES, "_in_part")
                result.address_frames[address] = frame
                result.sink_counts[sink] = totals.get(sink, (0, 0))[0]

            # ---- ONE partitioned write for every plain-schema sink -----
            # Sinks on the default SinkSpec share one explode(routes) and
            # one write job, partitioned by the sink's integer index; each
            # partition dir is then renamed into its table. The DLQ
            # (_dlq_reason, keeps [@metadata]), codec / partition_by /
            # drop_columns sinks and Iceberg tables write on their own,
            # and so does a sink that routed no rows: it gets no
            # partition dir, and its own (empty) write still commits a
            # file carrying the schema.
            shared = [
                sink for sink, table, sspec in pending
                if sink != spec.dlq_sink
                and isinstance(table, SnapshotTable)
                and not (sspec and (sspec.codec or sspec.partition_by or sspec.drop_columns))
                and totals.get(sink, (0, 0))[0] > 0
            ]
            staged: dict[str, str] = {}
            if shared:
                taken = {c.lower() for c in routed.columns}
                part_col = FANOUT_COL
                while part_col in taken:  # never collide with a user column
                    part_col = "_" + part_col
                idx = F.array_position(F.array(*map(F.lit, shared)), F.col(part_col))
                out = stage(
                    fanout_rows(routed, shared, part_col, drop_before_write)
                    .withColumn(part_col, idx)  # 1-based index among `shared`
                    .hint("rebalance", F.col(part_col)),
                    [part_col],
                )
                staged = {
                    s: os.path.join(out, f"{part_col}={i}")
                    for i, s in enumerate(shared, start=1)
                }

            for sink, table, sspec in pending:
                rows, n_parts = totals.get(sink, (0, 0))
                lineage = {
                    "run_id": run_id,
                    "rows": rows,
                    "n_partitions": n_parts,
                    # per-partition detail lives in the _sink_lineage
                    # table, keyed by (run_id, sink) — unbounded detail
                    # never enters the driver-side manifest
                    "detail_table": "_sink_lineage",
                }
                partition_by = (sspec.partition_by or None) if sspec else None
                data = staged.get(sink) or source(
                    table, sink_frame(sink, sspec), partition_by, rebalance=True
                )
                meta = {"pipeline": spec.name, "sink": sink}
                commits.append((sink, table, data, lineage, meta, partition_by))
                result.sink_counts[sink] = rows
            for name, table, frame in side_todo:
                commits.append(
                    (name, table, source(table, frame), {"run_id": run_id}, None, None)
                )

            # ---- run every other staged write at once; a failure
            # commits nothing
            _write_at_once(spark, jobs[1:])
        except BaseException:
            _clear_staging(staging)
            raise

        # ---- commit every table one by one: _sink_lineage, the sinks in
        # spec order, then the side tables -------------------------------
        for name, table, data, lineage, meta, partition_by in commits:
            table.append(data, lineage=lineage, meta=meta, partition_by=partition_by)
            _crash_point(name)
        _clear_staging(staging)
        return result
    finally:
        if persist_tracker is not None:
            # caller (plans.graph) owns cache lifetime — downstream
            # pipelines still read this pipeline's address frames
            persist_tracker.append(routed)
            persist_tracker.extend(persisted)
        else:
            routed.unpersist()
            for p in persisted:
                p.unpersist()

