"""Python DataSource (Spark 4 `pyspark.sql.datasource`) exposing the
VersionedTable commit log as a first-class Spark format:

    spark.dataSource.register(VersionedDataSource)
    spark.read.format("versioned").option("path", p).load()            # snapshot
    spark.read.format("versioned").option("asOfCsn", 3).load()         # time travel
    spark.readStream.format("versioned").option("path", p).load()      # CDC tail

and a transactional batch writer:

    df.write.format("versioned").mode("append").option("path", p).save()

Reference-parity map (citations into /root/reference):
- snapshot reader    <- the MVCC read path, src/storage/block_driver.rs:457-486:
  each partition resolves "newest visible version per key, tombstones hidden"
  for its slice of the key space.
- CDC stream reader  <- tailing the WAL, src/log_mgr/io.rs:254-441: offsets are
  csns; each micro-batch is the fold of manifests in (start_csn, end_csn].
- batch writer       <- group commit, src/system/instance.rs:102-111 +
  src/log_mgr/buf.rs: executors stage parquet parts independently (the
  double-buffered WAL appends), the driver's single `commit()` publishes one
  manifest atomically (flush-on-commit).

Every commit-log decision — the fold plan, group visibility, the conflict
check and the csn claim — is plans/commitlog.py's, the same code the table
API runs.

Scale design: the snapshot reader's partitions are key-hash bucket groups
matching the physical bucket=<b>/ layout: each partition LISTS ONLY its
buckets' files across ops and resolves versions locally — pruned IO and no
shuffle (the same co-location argument as the reference's per-object version
chains). keyEquals=<json> plans a single partition for a point lookup;
includeMeta=true emits (_csn,_opseq,_deleted,bucket) winners so checkpoints
write partitionBy(bucket) without a shuffle. Unbucketed (legacy) tables fall
back to full-scan + seedless row-hash filtering; ops whose bucket count
differs from the table meta (layout migration) fall back per-op.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from db_core_spark.config import DEFAULT_CONFIG
from db_core_spark.plans.commitlog import (
    CommitLog,
    SnapshotUnavailableError,
    missing_csns,
    table_grace,
    tracked_keys,
)

META_FIELDS = [
    T.StructField("_csn", T.LongType()),
    T.StructField("_change", T.StringType()),
]


def _load_meta(path: str) -> tuple[list[str], T.StructType, int, list[str], CommitLog]:
    """The table's _meta.json, read once: (key_cols, schema, num_buckets,
    bucket_cols, commit log with the table's persisted group grace)."""
    with open(os.path.join(path, "_meta.json")) as fh:
        meta = json.load(fh)
    key_cols = meta["key_cols"]
    return (
        key_cols,
        T.StructType.fromJson(meta["schema"]),
        meta.get("num_buckets", 0),
        meta.get("bucket_cols", key_cols),
        CommitLog(path, table_grace(meta, DEFAULT_CONFIG.group_pending_grace_seconds)),
    )


def _op_table_dir(dir_path: str, op: dict, data_cols: list[str], data_schema=None):
    """Load one directory (an op dir, or one bucket=<b>/ subdir of it) as a
    pyarrow table with _csn/_opseq/_deleted attached. Op part files
    physically carry (data cols, _deleted, _opseq); checkpoints carry _csn
    too. Column projection happens at the parquet reader. Columns added by
    alter_add_column after this op was written are null-filled (pass
    `data_schema` to type the fill)."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    want = data_cols + ["_deleted", "_opseq"] + (["_csn"] if op["checkpoint"] else [])
    ds = pads.dataset(dir_path, format="parquet")
    avail = set(ds.schema.names)
    present = [c for c in want if c in avail]
    tbl = ds.to_table(columns=present)
    missing = [c for c in want if c not in avail]
    if missing:
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_types = {
            f.name: f.type for f in to_arrow_schema(data_schema)
        } if data_schema is not None else {}
        for c in missing:
            tbl = tbl.append_column(
                c, pa.nulls(len(tbl), type=arrow_types.get(c, pa.null()))
            )
    if data_schema is not None:
        # Normalize data columns to the table's canonical arrow schema:
        # JVM-written parquet (txn/checkpoint path; INT96 -> timestamp[ns]
        # naive) and python-staged parquet (batch/stream writers ->
        # timestamp[us, tz=UTC]) must concat into ONE arrow table, and
        # naive-vs-tz timestamp fields refuse to merge. Both writers store
        # UTC instants at microsecond semantic precision, so casting to the
        # Spark schema's arrow type (time truncation allowed: ns -> us) is
        # value-exact.
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        want_types = {f.name: f.type for f in to_arrow_schema(data_schema)}
        for idx, name in enumerate(tbl.schema.names):
            t = want_types.get(name)
            if t is not None and tbl.schema.field(idx).type != t:
                tbl = tbl.set_column(
                    idx,
                    name,
                    pc.cast(
                        tbl.column(name),
                        options=pc.CastOptions(
                            target_type=t, allow_time_truncate=True
                        ),
                    ),
                )
    if not op["checkpoint"]:
        tbl = tbl.append_column(
            "_csn", pa.array([op["csn"]] * len(tbl), type=pa.int64())
        )
    return tbl


@dataclass
class KeyBucketPartition(InputPartition):
    """Legacy-layout partition: reads every op file, row-filters its hash
    slice (the correct fallback when the physical layout is unbucketed)."""

    bucket: int
    num_buckets: int


@dataclass
class BucketSetPartition(InputPartition):
    """Bucketed-layout partition: owns a set of physical buckets and lists
    ONLY their bucket=<b>/ files — layout-pruned IO, the 100 TB path."""

    buckets: tuple


META_SCHEMA_FIELDS = [
    T.StructField("_csn", T.LongType()),
    T.StructField("_opseq", T.LongType()),
    T.StructField("_deleted", T.BooleanType()),
    T.StructField("bucket", T.IntegerType()),
]


class VersionedSnapshotReader(DataSourceReader):
    """Batch reader: MVCC snapshot at asOfCsn (default: latest). The op list
    is resolved once at planning time (driver) so every task folds the same
    manifest set — a consistent read even while writers keep committing.

    Bucketed tables (meta num_buckets > 0): partitions are bucket groups;
    each lists only its buckets' bucket=<b>/ subdirs of each op — pruned
    file listings + in-partition version resolution, no shuffle anywhere
    (parity: per-object chain walk, block_driver.rs:461-486). A keyEquals
    option plans a SINGLE partition for the key's bucket. Ops written with a
    different bucket count than the table meta (layout migration) fall back
    to read+row-filter for that op only.

    includeMeta=true emits (_csn, _opseq, _deleted, bucket) winners for the
    shuffle-free checkpoint writer."""

    def __init__(self, schema: T.StructType, options: dict):
        self.path = options["path"]
        as_of = options.get("asofcsn")
        self.as_of = int(as_of) if as_of is not None else None
        self.include_meta = str(options.get("includemeta", "false")).lower() == "true"
        (
            self.key_cols, self.data_schema, self.num_buckets, self.bucket_cols, log
        ) = _load_meta(self.path)
        key_eq = options.get("keyequals")
        self.key_equals: dict | None = json.loads(key_eq) if key_eq else None
        self.ops = log.fold(self.as_of)
        if self.num_buckets > 0:
            if self.key_equals is not None:
                missing = [c for c in self.bucket_cols if c not in self.key_equals]
                if missing:
                    raise ValueError(
                        f"keyEquals must bind every bucket column; missing {missing}"
                    )
                from db_core_spark.plans.versioned import bucket_of_py

                target = bucket_of_py(
                    [self.key_equals[c] for c in self.bucket_cols], self.num_buckets
                )
                self.bucket_groups = [(target,)]
            else:
                p = int(options.get("numpartitions", self.num_buckets))
                p = max(1, min(p, self.num_buckets))
                self.bucket_groups = [
                    tuple(b for b in range(self.num_buckets) if b % p == i)
                    for i in range(p)
                ]
        else:
            if self.include_meta:
                raise ValueError("includeMeta requires a bucketed table layout")
            self.legacy_parts = int(options.get("numpartitions", 8))
            self.bucket_groups = None

    # NOTE — filter pushdown (DataSourceReader.pushFilters) was implemented
    # and then REMOVED after a verified correctness leak: Spark constructs
    # ONE python reader instance per load() and reuses it for every query
    # derived from that DataFrame, so per-query partition pruning mutated in
    # pushFilters leaks into sibling queries (measured: an unfiltered
    # count() after a pruned point lookup returned only the pruned bucket's
    # rows). Until the API gives per-query reader instances, explicit
    # .option("keyEquals", ...) remains the safe single-bucket path; plain
    # .filter() predicates stay row-wise correct (just unpruned).

    # ------------------------------------------------------------- planning

    def partitions(self):
        if self.bucket_groups is not None:
            return [BucketSetPartition(buckets=g) for g in self.bucket_groups]
        return [
            KeyBucketPartition(b, self.legacy_parts) for b in range(self.legacy_parts)
        ]

    def dirs_for_partition(self, partition) -> list[tuple[str, dict, bool]]:
        """(dir, op, pruned) listing this partition will read — planning is
        inspectable so tests can assert single-bucket IO pruning."""
        out = []
        for op in self.ops:
            if (
                isinstance(partition, BucketSetPartition)
                and op["buckets"] == self.num_buckets
            ):
                if not os.path.isdir(op["dir"]):
                    # the op list was pinned at plan time; the whole op dir
                    # vanishing means vacuum reclaimed it between planning
                    # and this task — fail LOUDLY rather than silently
                    # returning a partial fold (a missing bucket=<b>/
                    # subdir below, by contrast, just means the op wrote
                    # no rows for that bucket and is skipped legitimately)
                    raise RuntimeError(
                        f"versioned read: op dir {op['dir']} (csn={op['csn']}) "
                        "vanished mid-read — vacuum raced this pinned snapshot; "
                        "re-run the read on a fresh snapshot"
                    )
                for b in partition.buckets:
                    d = os.path.join(op["dir"], f"bucket={b}")
                    if os.path.isdir(d):
                        out.append((d, op, True))
            else:
                out.append((op["dir"], op, False))
        return out

    # -------------------------------------------------------------- reading

    def read(self, partition):
        import pandas as pd
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from db_core_spark.plans.versioned import bucket_of_py

        data_cols = [f.name for f in self.data_schema.fields]
        if not self.ops:
            return
        tables = []
        for d, op, pruned in self.dirs_for_partition(partition):
            tbl = _op_table_dir(d, op, data_cols, data_schema=self.data_schema)
            if pruned:
                b = int(os.path.basename(d).split("=", 1)[1])
                tbl = tbl.append_column(
                    "bucket", pa.array([b] * len(tbl), type=pa.int32())
                )
            tables.append(tbl)
        if not tables:
            return
        tbl = pa.concat_tables(tables, promote_options="permissive")
        pdf = tbl.to_pandas()
        if "bucket" not in pdf.columns or pdf["bucket"].isna().any():
            # unpruned rows: compute the bucket (bucketed layout) or the
            # legacy seedless pandas hash slice, then filter to ours
            if self.bucket_groups is not None:
                key_vals = pdf[self.bucket_cols].itertuples(index=False, name=None)
                computed = pd.Series(
                    [bucket_of_py(list(kv), self.num_buckets) for kv in key_vals],
                    index=pdf.index,
                    dtype="int64",
                )
                if "bucket" in pdf.columns:
                    pdf["bucket"] = pdf["bucket"].fillna(computed).astype("int64")
                else:
                    pdf["bucket"] = computed
                pdf = pdf[pdf["bucket"].isin(list(partition.buckets))]
            else:
                h = (
                    pd.util.hash_pandas_object(
                        pdf[self.key_cols].astype(str).agg("\x00".join, axis=1),
                        index=False,
                    )
                    % partition.num_buckets
                )
                pdf = pdf[h == partition.bucket]
        if len(pdf) == 0:
            return
        # visibility rule (block_driver.rs:457-486): newest (_csn,_opseq)
        # version per key wins; tombstone winners hide the key
        pdf = (
            pdf.sort_values(["_csn", "_opseq"], ascending=False, kind="mergesort")
            .drop_duplicates(self.key_cols, keep="first")
        )
        pdf = pdf[~pdf["_deleted"]]
        if self.key_equals is not None:
            for c, v in self.key_equals.items():
                pdf = pdf[pdf[c] == v]
        if len(pdf) == 0:
            return
        if self.include_meta:
            out_cols = data_cols + ["_csn", "_opseq", "_deleted", "bucket"]
            out_schema = to_arrow_schema(
                T.StructType(list(self.data_schema.fields) + META_SCHEMA_FIELDS)
            )
        else:
            out_cols = data_cols
            out_schema = to_arrow_schema(self.data_schema)
        out = pa.Table.from_pandas(pdf[out_cols], preserve_index=False).select(out_cols)
        yield from out.cast(out_schema).to_batches()


@dataclass
class CDCPartition(InputPartition):
    """One executor task of a CDC micro-batch: a single directory (an op
    dir, or one bucket=<b>/ subdir of it for bucketed layouts) plus the
    commit identity to stamp on its rows. ``opseq`` is the op's position
    WITHIN its transaction — surfaced as an ``_opseq`` column only when
    the reader was opened with includeOpseq (merge_from needs it: a txn
    that upserts then deletes the same key emits both rows at one csn,
    and 'latest change per key' is undecidable from _csn alone)."""

    dir: str
    csn: int
    kind: str
    opseq: int = 0


class VersionedChangeStreamReader(DataSourceStreamReader):
    """Partition-planning CDC tail of the commit log: offsets are csns; a
    micro-batch is every change row published in (start_csn, end_csn].
    WAL-tailing parity: src/log_mgr/io.rs:254-441.

    Scale shape: the driver only lists manifests (metadata); each op dir —
    per bucket subdir when the layout is bucketed — becomes its own input
    partition, so a large backfill replay fans out across executors instead
    of funneling through the driver (the round-1 Simple reader read every
    batch driver-side; this keeps its csn-offset contract)."""

    def __init__(self, schema: T.StructType, options: dict):
        self.path = options["path"]
        self.key_cols, self.data_schema, _, _, self.log = _load_meta(self.path)
        start = options.get("startingcsn")
        self.start_csn = int(start) if start is not None else 0
        self.include_opseq = (
            str(options.get("includeopseq", "false")).lower() == "true"
        )

    def initialOffset(self) -> dict:
        return {"csn": self.start_csn}

    def latestOffset(self) -> dict:
        deltas = [c for c, is_ck, _ in self.log.names() if not is_ck]
        return {"csn": max(deltas, default=self.start_csn)}

    def partitions(self, start: dict, end: dict) -> list[CDCPartition]:
        lo, hi = start["csn"], end["csn"]
        parts: list[CDCPartition] = []
        # name-bounded: only manifests inside the batch window are opened
        for csn, is_ck, name in self.log.names():
            if is_ck or not (lo < csn <= hi):
                continue
            m = self.log.read(name)
            if not self.log.visible(m):
                continue  # aborted/force-aborted group: no change rows
            for op in m["ops"]:
                has_pre = bool(op.get("preimages"))
                pre_dir = os.path.join(op["dir"], "_preimg")
                if has_pre and op["kind"] == "delete":
                    # preimage-enabled delete: emit the old rows WITH their
                    # column values as the delete change rows (instead of
                    # the key-only tombstones in the op dir) — deleting a
                    # key that never existed emits nothing, which is the
                    # correct retraction semantics
                    parts.append(
                        CDCPartition(
                            dir=pre_dir, csn=m["csn"], kind="delete",
                            opseq=int(op.get("opseq", 0)),
                        )
                    )
                    continue
                bucket_dirs = (
                    sorted(
                        os.path.join(op["dir"], d)
                        for d in os.listdir(op["dir"])
                        if d.startswith("bucket=")
                    )
                    if op.get("buckets", 0) > 0 and os.path.isdir(op["dir"])
                    else []
                )
                for d in bucket_dirs or [op["dir"]]:
                    parts.append(
                        CDCPartition(
                            dir=d, csn=m["csn"], kind=op["kind"],
                            opseq=int(op.get("opseq", 0)),
                        )
                    )
                if has_pre:
                    # upsert with preimages: previous values of updated keys
                    # ride along as update_preimage retraction rows
                    parts.append(
                        CDCPartition(
                            dir=pre_dir, csn=m["csn"], kind="update_preimage",
                            opseq=int(op.get("opseq", 0)),
                        )
                    )
        return parts

    def read(self, partition: CDCPartition) -> Iterator[Tuple]:
        data_cols = [f.name for f in self.data_schema.fields]
        tbl = _op_table_dir(
            partition.dir,
            {"csn": partition.csn, "checkpoint": False},
            data_cols,
            data_schema=self.data_schema,
        )
        extra = (partition.opseq,) if self.include_opseq else ()
        for row in tbl.select(data_cols).to_pylist():
            yield (
                tuple(row[c] for c in data_cols)
                + (partition.csn, partition.kind)
                + extra
            )

    def commit(self, end: dict) -> None:
        pass  # manifests are immutable; nothing to release per epoch


def _stage_rows(
    iterator,
    data_schema: T.StructType,
    key_cols: list,
    num_buckets: int,
    bucket_cols: list,
    out_dir: str,
) -> tuple[list, int, list | None]:
    """Executor-side staging shared by the batch and streaming writers:
    materialize this partition's rows as parquet under ``out_dir``
    (bucket=<b>/ subdirs when the table is bucketed — the python twin of the
    JVM bucket_expr; both writer kinds MUST agree or in-partition version
    resolution breaks, tested) and return (relative file paths, row count,
    canonical-string write-set or None when above the tracking cap)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from db_core_spark.plans.versioned import bucket_of_py

    data_cols = [f.name for f in data_schema.fields]
    rows = [tuple(r) for r in iterator]
    pdf = pd.DataFrame(rows, columns=data_cols)
    pdf["_deleted"] = False
    pdf["_opseq"] = 0
    arrow_schema = to_arrow_schema(
        T.StructType(
            list(data_schema.fields)
            + [
                T.StructField("_deleted", T.BooleanType()),
                T.StructField("_opseq", T.LongType()),
            ]
        )
    )
    tbl = pa.Table.from_pandas(pdf, preserve_index=False).cast(arrow_schema)
    part_id = uuid.uuid4().hex
    rel_paths: list = []
    if num_buckets > 0:
        key_vals = tbl.select(bucket_cols).to_pylist()
        buckets = pa.array(
            [
                bucket_of_py([r[c] for c in bucket_cols], num_buckets)
                for r in key_vals
            ],
            type=pa.int32(),
        )
        for b in pc.unique(buckets).to_pylist():
            mask = pc.equal(buckets, b)
            sub = tbl.filter(mask)
            bdir = os.path.join(out_dir, f"bucket={b}")
            os.makedirs(bdir, exist_ok=True)
            rel = os.path.join(f"bucket={b}", f"part-{part_id}.parquet")
            pq.write_table(sub, os.path.join(out_dir, rel))
            rel_paths.append(rel)
    else:
        os.makedirs(out_dir, exist_ok=True)
        rel = f"part-{part_id}.parquet"
        pq.write_table(tbl, os.path.join(out_dir, rel))
        rel_paths.append(rel)
    # canonical string form of the part's write-set (same encoding as
    # Transaction._stage so the writer kinds compare like-for-like); arrow
    # to_pylist yields python-native values (datetime, int, str) matching
    # what Spark Rows stringify to on the txn side
    part_keys = tracked_keys(
        tuple(str(r[c]) for c in key_cols) for r in tbl.select(key_cols).to_pylist()
    )
    return rel_paths, len(rows), list(part_keys) if part_keys is not None else None


def _write_set(messages) -> set | None:
    """Union of the staged parts' write-sets; None (untracked) if any part
    or the union passes the tracking cap."""
    parts = [m for m in messages if m is not None]
    if any(m.keys is None for m in parts):
        return None
    return tracked_keys(tuple(k) for m in parts for k in m.keys)


@dataclass
class StagedPart(WriterCommitMessage):
    file_path: str
    n_rows: int
    # canonical-string write-set of this part; None = too large to track
    keys: list | None = None


class VersionedAppendWriter(DataSourceWriter):
    """Transactional bulk append: executors stage independent parquet parts
    under one tsn (the WAL-buffer appends); the driver's commit() publishes
    ONE manifest for all of them (group commit, system/instance.rs:102-111). A
    failed job leaves only unpublished files — invisible by construction.

    Conflict protection is Transaction's (tran_mgr parity): each part
    enumerates its distinct key set, and commit() claims through
    CommitLog.claim, aborting with ConflictError when any manifest
    published after the writer was planned overlaps, or was reclaimed by
    vacuum — so two concurrent bulk appends upserting the same keys can no
    longer both win (no silent last-csn lost update)."""

    def __init__(self, schema: T.StructType, options: dict):
        self.path = options["path"]
        (
            self.key_cols, self.data_schema, self.num_buckets, self.bucket_cols, self.log
        ) = _load_meta(self.path)
        if [f.name for f in schema.fields] != [f.name for f in self.data_schema.fields]:
            raise ValueError(
                f"schema mismatch: table has {self.data_schema.fieldNames()}, "
                f"write has {schema.fieldNames()}"
            )
        self.tsn = "t" + uuid.uuid4().hex[:12]
        self.op_dir = os.path.join(self.path, "data", f"tsn={self.tsn}", "opseq=0")
        # snapshot pin at plan time: manifests committed after this are
        # 'concurrent' for the optimistic conflict check in commit()
        self.start_csn = self.log.latest_csn()

    def write(self, iterator) -> StagedPart:
        rel_paths, n_rows, part_keys = _stage_rows(
            iterator,
            self.data_schema,
            self.key_cols,
            self.num_buckets,
            self.bucket_cols,
            self.op_dir,
        )
        fname = (
            self.op_dir
            if self.num_buckets > 0
            else os.path.join(self.op_dir, rel_paths[0])
        )
        return StagedPart(file_path=fname, n_rows=n_rows, keys=part_keys)

    def commit(self, messages) -> None:
        self.log.claim(
            self.start_csn,
            self.tsn,
            [{"dir": self.op_dir, "opseq": 0, "kind": "upsert", "buckets": self.num_buckets}],
            _write_set(messages),
            f"bulk append {self.tsn}",
            extra={"rows": sum(m.n_rows for m in messages if m is not None)},
        )

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.dirname(self.op_dir), ignore_errors=True)


@dataclass
class StagedStreamPart(WriterCommitMessage):
    rel_paths: list
    n_rows: int
    keys: list | None = None


class VersionedStreamWriter(DataSourceStreamWriter):
    """Native exactly-once streaming sink: .writeStream.format("versioned").

    Per micro-batch, executors stage parquet parts into a shared staging
    area (_stage_rows — identical layout rules as the batch writer and txn
    path); the driver's commit(messages, batchId) MOVES exactly this
    batch's staged files into a fresh tsn op dir and publishes ONE manifest
    carrying the (writer, epoch) identity — the same idempotency contract
    as streaming.ops.commit_microbatch, so a replayed epoch (Structured
    Streaming re-delivers the batch after a crash between sink commit and
    checkpoint advance) is detected BEFORE publish, its staged files are
    discarded, and snapshot AND CDC readers never observe duplicates.

    Reference parity: this is the WAL-append path driven by a continuous
    writer — staged parts are the double-buffered WAL appends
    (/root/reference/src/log_mgr/buf.rs), publish-by-manifest is the
    commit-record flush (log_mgr/io.rs:99-103), and the (writer, epoch)
    marker plays the recovery-dedup role of the reference's tsn replay
    check (system/instance.rs:221-304).

    Concurrency: CommitLog.claim checks the write-set against manifests
    committed since this writer's last publish (own manifests skipped); an
    overlap raises ConflictError and the stream fails loudly rather than
    losing an update."""

    def __init__(self, schema: T.StructType, options: dict):
        self.path = options["path"]
        (
            self.key_cols, self.data_schema, self.num_buckets, self.bucket_cols, self.log
        ) = _load_meta(self.path)
        if [f.name for f in schema.fields] != [
            f.name for f in self.data_schema.fields
        ]:
            raise ValueError(
                f"schema mismatch: table has {self.data_schema.fieldNames()}, "
                f"stream write has {schema.fieldNames()}"
            )
        # Writer identity keys the exactly-once replay check — it must be
        # unique PER QUERY LIFETIME, not per table: a restart with a NEW
        # checkpoint location resets batchId to 0, and if the identity were
        # derived from the table path alone the new query's early epochs
        # would match the old query's (writer, epoch) manifests and be
        # silently discarded as replays. Default derives from the
        # checkpoint location (new checkpoint <=> new batchId counter <=>
        # new identity); with neither writerId nor checkpointLocation there
        # is nothing safe to derive from, so fail loudly.
        # NOTE deliberately NOT derived from the session conf
        # spark.sql.streaming.checkpointLocation: that conf names a PARENT
        # directory — an unnamed query checkpoints under a fresh random
        # subdir each start (batchId resets every restart), so a
        # conf-derived identity would be shared across restarts and
        # reintroduce the replay-discard data loss this check exists to
        # prevent. Only the per-query values are safe to key on.
        ckpt = options.get("checkpointlocation")
        self.writer_id = options.get("writerid") or (
            f"streamwriter:{self.path}@{ckpt}" if ckpt else None
        )
        if self.writer_id is None:
            raise ValueError(
                "versioned stream sink needs .option('writerId', ...) or a "
                "per-query .option('checkpointLocation', ...) to derive one: "
                "a table-path-only default would treat a restarted query's "
                "early epochs as replays of an older checkpoint's and "
                "silently drop them. (The session conf "
                "spark.sql.streaming.checkpointLocation is NOT a substitute: "
                "it is a parent dir under which unnamed queries get a fresh "
                "random checkpoint each start, so an identity derived from "
                "it would be wrongly shared across restarts.)"
            )
        # DETERMINISTIC staging dir (a hash of the writer identity): Spark
        # instantiates this class separately for planning, executor write
        # tasks, and driver commit — all instances must agree on where the
        # staged parts live. Two concurrent streams into one table need
        # distinct .option("writerId", ...) values (else they'd share a
        # stage and race); the exactly-once epoch check keys on the same id.
        import hashlib

        self.stage_root = os.path.join(
            self.path,
            "data",
            "_staging",
            hashlib.md5(self.writer_id.encode()).hexdigest()[:16],
        )
        self.last_seen_csn = self.log.latest_csn()

    def write(self, iterator) -> StagedStreamPart:
        rel_paths, n_rows, part_keys = _stage_rows(
            iterator,
            self.data_schema,
            self.key_cols,
            self.num_buckets,
            self.bucket_cols,
            self.stage_root,
        )
        return StagedStreamPart(rel_paths=rel_paths, n_rows=n_rows, keys=part_keys)

    def _discard(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for rel in m.rel_paths:
                try:
                    os.remove(os.path.join(self.stage_root, rel))
                except OSError:
                    pass

    def commit(self, messages, batchId: int) -> None:
        import shutil

        live = [m for m in messages if m is not None and m.n_rows > 0]
        if not live:
            self._discard(messages)
            return
        # exactly-once: a replayed epoch is already durable — drop the stage
        if any(
            m.get("writer") == self.writer_id and m.get("epoch") == batchId
            for m in self.log.manifests()
        ):
            self._discard(messages)
            return
        tsn = f"s{uuid.uuid4().hex[:10]}b{batchId}"
        op_dir = os.path.join(self.path, "data", f"tsn={tsn}", "opseq=0")
        for m in live:
            for rel in m.rel_paths:
                dest = os.path.join(op_dir, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(os.path.join(self.stage_root, rel), dest)
        self.last_seen_csn = self.log.claim(
            self.last_seen_csn,
            tsn,
            [{"dir": op_dir, "opseq": 0, "kind": "upsert", "buckets": self.num_buckets}],
            _write_set(live),
            f"stream sink epoch {batchId}",
            extra={
                "rows": sum(m.n_rows for m in live),
                "writer": self.writer_id,
                "epoch": batchId,
            },
            skip_writer=self.writer_id,
        )
        shutil.rmtree(self.stage_root, ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:
        self._discard(messages)


class VersionedDataSource(DataSource):
    """format("versioned"): batch snapshot / time-travel reads, CDC streaming
    reads, and transactional appends over a VersionedTable directory."""

    @classmethod
    def name(cls) -> str:
        return "versioned"

    def _mode(self) -> str:
        return self.options.get("readchanges", "false").lower()

    def schema(self):
        data_schema = _load_meta(self.options["path"])[1]
        if self._mode() == "true":
            fields = list(data_schema.fields) + META_FIELDS
            if str(self.options.get("includeopseq", "false")).lower() == "true":
                # opt-in ONLY (merge_from): the public feed shape stays
                # (_csn, _change) for every existing consumer/oracle
                fields = fields + [T.StructField("_opseq", T.LongType())]
            return T.StructType(fields)
        if str(self.options.get("includemeta", "false")).lower() == "true":
            return T.StructType(list(data_schema.fields) + META_SCHEMA_FIELDS)
        return data_schema

    def reader(self, schema: T.StructType) -> DataSourceReader:
        if self._mode() == "true":
            return VersionedChangesBatchReader(schema, dict(self.options))
        return VersionedSnapshotReader(schema, dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool) -> DataSourceWriter:
        if overwrite:
            raise NotImplementedError(
                "mode('overwrite') unsupported; use VersionedTable txns for "
                "update/delete semantics, or append + checkpoint/vacuum"
            )
        return VersionedAppendWriter(schema, dict(self.options))

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise NotImplementedError(
                "streaming overwrite unsupported; the sink appends/upserts "
                "one ACID commit per micro-batch"
            )
        return VersionedStreamWriter(schema, dict(self.options))

    def streamReader(self, schema: T.StructType):
        if self._mode() != "true":
            raise ValueError(
                "streaming reads are CDC reads: pass "
                ".option('readChanges', 'true') so the schema carries "
                "(_csn, _change)"
            )
        return VersionedChangeStreamReader(schema, dict(self.options))


def register(spark) -> None:
    """Idempotently register format('versioned') on a session."""
    spark.dataSource.register(VersionedDataSource)


class VersionedChangesBatchReader(DataSourceReader):
    """BATCH change feed (the table_changes(from, to) shape): every change
    row committed in (fromCsn, toCsn], with (_csn, _change) metadata and
    pre-image retraction rows where the table records them. Reuses the
    stream reader's name-bounded partition planning verbatim, so a batch
    backfill fans out one input partition per op/bucket dir exactly like a
    streaming replay — the driver only lists manifests."""

    def __init__(self, schema: T.StructType, options: dict):
        self._delegate = VersionedChangeStreamReader(schema, options)
        from_csn = int(options.get("fromcsn", 0))
        to = options.get("tocsn")
        names = self._delegate.log.names()
        if to is not None:
            to_csn = int(to)
        else:
            to_csn = max((c for c, is_ck, _ in names if not is_ck), default=0)
        if from_csn > to_csn:
            raise ValueError(f"fromCsn {from_csn} > toCsn {to_csn}")
        # completeness guard (the engine's complete-fold-or-loud-error
        # contract): a vacuum-reclaimed commit inside the requested window
        # would otherwise just be ABSENT from the feed — the consumer sees
        # a silently incomplete ledger, the unsafe direction for CDC
        missing = missing_csns(names, from_csn, to_csn)
        if missing:
            raise SnapshotUnavailableError(
                f"changes({from_csn}, {to_csn}): commits "
                f"{missing[:10]} were vacuum-reclaimed inside the "
                "window; the batch change feed cannot be complete"
            )
        self._window = ({"csn": from_csn}, {"csn": to_csn})

    def partitions(self):
        parts = self._delegate.partitions(*self._window)
        # an empty batch window still needs ONE partition: Spark's batch
        # DataSource path calls read(None) when the list is empty
        return parts or [CDCPartition(dir="", csn=0, kind="_empty")]

    def read(self, partition):
        if partition is None or partition.kind == "_empty":
            return iter(())
        return self._delegate.read(partition)
