"""Snapshot-table layer: Iceberg-style semantics over parquet + manifests.

The target design (SURVEY.md §1.2) stores transcripts / vocab / nodes /
edges as Iceberg tables.  This sandbox has no Iceberg runtime jar, so this
module provides the same *semantics* on plain parquet:

* **atomic snapshots** — every write creates a new immutable data dir plus a
  JSON manifest listing the data dirs live at that snapshot; the table's
  current snapshot pointer is flipped with ``os.replace`` (atomic on POSIX).
  A crash mid-write leaves the previous snapshot current — this is the
  checkpoint/resume primitive (mirrors the reference's ``embedded_concepts``
  checkpoint table + ``ON CONFLICT`` upsert,
  reference src/backend/db/methods/embeddings.py:53-112).
* **append / overwrite / merge-upsert / delete-where** — the write modes the
  reference uses via SQL (INSERT, TRUNCATE+COPY imports.py:300-304,
  ON CONFLICT DO UPDATE imports.py:207-240, DELETE imports.py:441-452).
* **per-snapshot lineage** — each manifest records operation, row counts and
  arbitrary stage metrics (north_rule: "per-partition lineage + metrics").

Reads and commits run no Spark job that only reads metadata.  The manifest
records the table's read schema, so :meth:`Table.read` hands it to
``spark.read.schema`` instead of letting Spark run a footer-inference job;
a manifest without one (written before the schema was recorded, or a
``partition_by`` write, whose schema comes from partition discovery) still
reads by inference.  A commit's row counts and per-partition lineage come
from the ``num_rows`` of the parquet footers it just wrote, read on the
driver with pyarrow.  Both are local-filesystem reads, like the
``os.replace`` pointer flip.

On a real cluster the same class works unchanged over HDFS/S3A paths for
everything except the atomic pointer flip, which Iceberg's catalog would
provide; swapping this layer for ``df.writeTo(...)`` is a one-file change —
the pipeline only uses the Table API below.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

_CURRENT = "_current"
_MANIFESTS = "_manifests"
_DATA = "data"


@contextmanager
def _job_description(sc, text: str):
    """Label the jobs run inside the block, RESTORING the caller's label
    after (a plain setJobDescription(None) in a finally would strip a
    harness's own label from every job that follows the table write)."""
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def _atomic_write_text(path: str, text: str) -> None:
    # a dropped table may be rebuilt through the same handle (ST5 reset):
    # recreate the manifest dir rather than requiring a fresh Table object
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _as_nullable(t: DataType) -> DataType:
    """``t`` with every field, array element and map value nullable — the
    schema a parquet read gives back for a frame of schema ``t``."""
    if isinstance(t, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in t.fields
            ]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _read_schema(df: DataFrame) -> dict:
    """The manifest's record of the schema a read of ``df``'s files gives."""
    return _as_nullable(df.schema).jsonValue()


@dataclass
class Snapshot:
    snapshot_id: str
    operation: str
    live_dirs: list[str]
    rows_written: int
    metrics: dict
    # bucketed tables: bucket id (str) -> live data dirs for that bucket.
    # live_dirs stays the flattened union so old readers keep working.
    buckets: dict | None = None
    # read schema (StructType JSON) handed to spark.read.schema; None reads
    # by inference (older manifests, partition_by writes)
    schema: dict | None = None

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)


class Table:
    """A snapshot-versioned parquet table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, _MANIFESTS), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA), exist_ok=True)

    # ------------------------------------------------------------- state
    def current_snapshot_id(self) -> str | None:
        p = os.path.join(self.path, _CURRENT)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip() or None

    def snapshot(self, snapshot_id: str | None = None) -> Snapshot | None:
        sid = snapshot_id or self.current_snapshot_id()
        if sid is None:
            return None
        with open(os.path.join(self.path, _MANIFESTS, f"{sid}.json")) as f:
            return Snapshot(**json.loads(f.read()))

    def exists(self) -> bool:
        return self.current_snapshot_id() is not None

    def history(self) -> list[Snapshot]:
        mdir = os.path.join(self.path, _MANIFESTS)
        snaps = []
        for name in sorted(os.listdir(mdir)):
            with open(os.path.join(mdir, name)) as f:
                snaps.append(Snapshot(**json.loads(f.read())))
        return snaps

    def applied_stream_batch_ids(self) -> set[int]:
        """Every streaming microbatch id ever applied to this table — the
        exactly-once replay guard's source of truth.  Reads BOTH the
        per-append ``stream_batch_id`` markers and the folded
        ``stream_batch_ids`` lists that :meth:`compact` /
        :meth:`expire_snapshots` carry forward, so maintenance can never
        erase a marker and let a foreachBatch replay double-append."""
        if not self.exists():
            return set()
        return self._stream_batch_ids(self.history())

    @staticmethod
    def _stream_batch_ids(snaps: list[Snapshot]) -> set[int]:
        ids: set[int] = set()
        for s in snaps:
            m = s.metrics or {}
            if m.get("stream_batch_id") is not None:
                ids.add(int(m["stream_batch_id"]))
            for b in m.get("stream_batch_ids", []):
                ids.add(int(b))
        return ids

    # Snapshot-metrics contract: a key is either PER-COMMIT bookkeeping
    # (it describes one physical commit — lineage, delta_scoped,
    # buckets_rewritten, a single append's batch marker) or TABLE-LEVEL
    # state (newest-wins watermarks and fingerprints that readers recover
    # by scanning history).  Maintenance (compact / expire_snapshots)
    # folds the TABLE-LEVEL keys forward so rewriting or deleting old
    # manifests can never reset a watermark — losing tokens_through, for
    # instance, would silently restart streaming pack offsets at 0 over
    # committed history.  The carry set is an explicit whitelist: the
    # default for a new key is per-commit (carrying per-commit keys onto
    # a maintenance snapshot would misdescribe it — e.g. a compact
    # wearing a previous merge's delta_scoped=True); register a new
    # watermark/fingerprint here when you add one.
    _TABLE_LEVEL_METRIC_KEYS = frozenset(
        {
            "link_config",
            "embedder_version",
            "graph_format",
            "tokens_through",
            "source_seq_through",
            "compacted_through",
        }
    )

    @classmethod
    def _carry_metrics(cls, snaps: list[Snapshot]) -> dict:
        """Newest-wins fold of the table-level metric keys over ``snaps``
        (ascending snapshot order — later values overwrite earlier)."""
        carried: dict = {}
        for s in snaps:
            for k, v in (s.metrics or {}).items():
                if k in cls._TABLE_LEVEL_METRIC_KEYS:
                    carried[k] = v
        return carried

    # -------------------------------------------------------------- read
    def read(self, snapshot_id: str | None = None) -> DataFrame:
        snap = self.snapshot(snapshot_id)
        if snap is None or not (snap.live_dirs or snap.schema):
            raise FileNotFoundError(f"table {self.path} has no current snapshot")
        if not snap.live_dirs:
            # a commit that wrote no rows (a bucketed merge of an empty
            # delta) is an empty table of its recorded schema
            return self.spark.createDataFrame([], StructType.fromJson(snap.schema))
        return self._read_dirs(snap.live_dirs, snap.schema)

    def _read_dirs(self, dirs: list[str], schema: dict | None) -> DataFrame:
        if schema is None:
            return self.spark.read.parquet(*dirs)
        return self.spark.read.schema(StructType.fromJson(schema)).parquet(*dirs)

    # ------------------------------------------------------------- write
    def _write_data_dir(self, df: DataFrame, partition_by: list[str] | None) -> str:
        sid = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.path, _DATA, sid)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        # name the job after the table so event-log/UI profiles attribute
        # write cost to the right commit (otherwise every commit is an
        # anonymous "parquet at ..." job)
        with _job_description(
            self.spark.sparkContext,
            f"table-write {os.path.basename(self.path)}",
        ):
            writer.parquet(data_dir)
        return sid

    def _commit(
        self,
        sid: str,
        operation: str,
        live_dirs: list[str],
        rows_written: int,
        metrics: dict | None,
        schema: dict | None = None,
        buckets: dict | None = None,
    ) -> Snapshot:
        snap = Snapshot(
            snapshot_id=sid,
            operation=operation,
            live_dirs=live_dirs,
            rows_written=rows_written,
            metrics=metrics or {},
            buckets=buckets,
            schema=schema,
        )
        _atomic_write_text(
            os.path.join(self.path, _MANIFESTS, f"{sid}.json"), snap.to_json()
        )
        _atomic_write_text(os.path.join(self.path, _CURRENT), sid)
        return snap

    def _partition_lineage(self, data_dir: str, cap: int = 256) -> tuple[int, dict]:
        """(total_rows, per-partition lineage) for the snapshot manifest —
        the north-rule 'per-partition lineage + metrics'.  Counts come from
        the ``num_rows`` of each parquet footer under ``data_dir``, read on
        the driver: no Spark job.  Names Spark's file index skips (``_`` or
        ``.`` prefixed, except ``_``-prefixed partition dirs such as
        ``__bucket=3``) are skipped, and files with 0 rows are left out, so
        ``n_files`` counts the files that hold rows.  Lineage is keyed by
        the partition-relative directory exactly as it is on disk (e.g.
        ``mapping_method=auto_drug``, ``g=x%25y``; ``""`` for an
        unpartitioned table) rather than by file basename: partition values
        are data-derived and deterministic, file names are not — which also
        makes the lineage oracle-checkable (gate ``s8_lineage_partitions``)
        and keeps the manifest O(partitions), not O(files), at scale.
        Truncated to ``cap`` entries, with an explicit ``truncated`` flag so
        readers can tell ``sum(rows_per_partition) != rows_written`` apart
        from corruption."""
        import pyarrow.parquet as pq

        def hidden(name: str) -> bool:
            return name.startswith(".") or (name.startswith("_") and "=" not in name)

        n_files = 0
        per_part: dict[str, int] = {}
        for root, dirs, files in os.walk(data_dir):
            dirs[:] = [d for d in dirs if not hidden(d)]
            rel = os.path.relpath(root, data_dir)
            key = "" if rel == "." else rel
            for name in files:
                if hidden(name):
                    continue
                n = pq.read_metadata(os.path.join(root, name)).num_rows
                if n:
                    n_files += 1
                    per_part[key] = per_part.get(key, 0) + n
        total = sum(per_part.values())
        lineage = dict(sorted(per_part.items())[:cap])
        return total, {
            "n_files": n_files,
            "n_partitions": len(per_part),
            "rows_per_partition": lineage,
            "truncated": len(per_part) > cap,
        }

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        metrics: dict | None = None,
    ) -> Snapshot:
        sid = self._write_data_dir(df, partition_by)
        data_dir = os.path.join(self.path, _DATA, sid)
        prev = self.snapshot()
        live = (prev.live_dirs if prev else []) + [data_dir]
        total, lineage = self._partition_lineage(data_dir)
        # inference over several live dirs reads the oldest file's footer,
        # so an append keeps the schema of the snapshot it extends
        if prev is not None:
            schema = prev.schema
        else:
            schema = None if partition_by else _read_schema(df)
        return self._commit(
            sid, "append", live, total, {**(metrics or {}), "lineage": lineage},
            schema,
        )

    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        metrics: dict | None = None,
    ) -> Snapshot:
        return self._commit_rewrite(df, "overwrite", partition_by, metrics)

    # ---------------------------------------------------------- bucketing
    _BUCKETSPEC = "_bucketspec.json"

    def bucket_spec(self) -> dict | None:
        p = os.path.join(self.path, self._BUCKETSPEC)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.loads(f.read())

    def _set_bucket_spec(self, column: str, n_buckets: int) -> dict:
        spec = {"column": column, "n_buckets": int(n_buckets)}
        _atomic_write_text(
            os.path.join(self.path, self._BUCKETSPEC),
            json.dumps(spec, sort_keys=True),
        )
        return spec

    @staticmethod
    def _bucket_col(spec: dict):
        from pyspark.sql import functions as F

        return F.pmod(
            F.xxhash64(F.col(spec["column"]).cast("string")),
            F.lit(spec["n_buckets"]),
        ).cast("int")

    def _write_bucketed_dir(
        self, df: DataFrame, spec: dict, colocate: bool = False
    ) -> tuple[str, dict]:
        """Write df partitioned by bucket id; returns (sid, bucket->dir).

        ``colocate=True`` repartitions on the bucket column first so each
        bucket lands in ONE task and one file — right for the delta-merge
        path, whose write is O(touched buckets) small and otherwise pays
        tasks×buckets tiny files.  The shuffle takes no partition count, so
        AQE coalesces the partitions a small delta leaves nearly empty
        instead of running one task per bucket.  Full
        rewrites (overwrite / compact / delete / bucketing conversion)
        keep the upstream layout: capping a whole-table rewrite at
        n_buckets tasks would serialize the big case the bucket map
        exists to protect."""
        from pyspark.sql import functions as F  # noqa: F401

        sid = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.path, _DATA, sid)
        out = df.withColumn("__bucket", self._bucket_col(spec))
        if colocate:
            out = out.repartition("__bucket")
        with _job_description(
            self.spark.sparkContext,
            f"table-write-bucketed {os.path.basename(self.path)}",
        ):
            (
                out.write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(data_dir)
            )
        written = {
            name.split("=", 1)[1]: [os.path.join(data_dir, name)]
            for name in os.listdir(data_dir)
            if name.startswith("__bucket=")
        }
        return sid, written

    def merge_upsert(
        self,
        df: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
        metrics: dict | None = None,
        bucket_by: tuple[str, int] | None = None,
    ) -> Snapshot:
        """Last-write-wins upsert on ``keys`` — MERGE INTO semantics.

        Mirrors the reference's remap-as-delete+insert
        (src/backend/db/methods/mapping.py:112-132) and CONCEPT upsert
        (imports.py:207-240): existing rows whose key appears in ``df`` are
        replaced, everything else is kept.

        With ``bucket_by=(column, n_buckets)`` (sticky: recorded at first
        write) the merge is PARTITION-SCOPED, mirroring Iceberg's
        copy-on-write MERGE granularity: only buckets containing delta keys
        are rewritten; untouched buckets' data dirs are carried into the new
        snapshot manifest unchanged — merge cost is O(touched partitions),
        not O(table).  At 10^9 edges an incremental run no longer rewrites
        the whole table (the round-1 scale-killer)."""
        spec = self.bucket_spec()
        if spec is None and bucket_by is not None:
            spec = self._set_bucket_spec(*bucket_by)
        if spec is None:
            if not self.exists():
                return self.overwrite(df, partition_by, metrics)
            current = self.read()
            kept = current.join(
                df.select(*keys).distinct(), on=keys, how="left_anti"
            )
            merged = kept.unionByName(df)
            return self._commit_rewrite(merged, "merge", partition_by, metrics)
        prev = self.snapshot()
        if prev is not None and not prev.buckets:
            # one-time conversion of a table born non-bucketed: the prior
            # snapshot has no bucket map, so the bucket-scoped merge below
            # would silently drop every pre-existing row — fold the whole
            # table through the bucket writer once; later merges are scoped.
            # Keyed on the DURABLE state (current snapshot lacks a bucket
            # map), not on whether this call wrote the spec file: a crash
            # between _set_bucket_spec and the conversion commit otherwise
            # leaves a spec on disk over an unbucketed snapshot, and the
            # next merge would take the scoped path with an empty bucket map
            # and silently drop every pre-existing row.
            current = self.read()
            if set(df.columns) != set(current.columns):
                # the scoped path would surface this as a union mismatch;
                # don't let the conversion silently project columns away
                raise ValueError(
                    "merge_upsert schema mismatch during bucketing "
                    f"conversion: table has {sorted(current.columns)}, "
                    f"delta has {sorted(df.columns)}"
                )
            kept = current.join(
                df.select(*keys).distinct(), on=keys, how="left_anti"
            )
            merged = kept.unionByName(df.select(*current.columns))
            return self._commit_rewrite(merged, "merge", partition_by, metrics)
        return self._merge_bucketed(df, keys, spec, metrics)

    def _merge_bucketed(
        self, df: DataFrame, keys: list[str], spec: dict, metrics: dict | None
    ) -> Snapshot:
        """Each delta row is computed once.  A table with no buckets yet has
        nothing to merge with, so the delta is written as is.  Otherwise
        one eager ``localCheckpoint`` pins the delta, and its job observes
        the delta's bucket ids; the touched buckets are read and the merged
        rows written from the pinned rows.  Either way the buckets written
        are exactly the buckets the delta touches."""
        prev = self.snapshot()
        prev_buckets: dict = dict(prev.buckets or {}) if prev else {}
        merged = df
        if prev_buckets:
            from pyspark.sql import functions as F

            seen = Observation()
            with _job_description(
                self.spark.sparkContext,
                f"merge-pin {os.path.basename(self.path)}",
            ):
                delta = df.observe(
                    seen, F.collect_set(self._bucket_col(spec)).alias("b")
                ).localCheckpoint(eager=True)
            touched_dirs = [
                d for b in sorted(seen.get["b"])
                for d in prev_buckets.get(str(b), [])
            ]
            merged = delta
            if touched_dirs:
                current_touched = self._read_dirs(touched_dirs, prev.schema)
                kept = current_touched.join(
                    delta.select(*keys).distinct(), on=keys, how="left_anti"
                )
                merged = kept.unionByName(delta.select(*current_touched.columns))
        sid, written = self._write_bucketed_dir(merged, spec, colocate=True)
        new_buckets = dict(prev_buckets)
        for b in sorted(written, key=int):
            new_buckets[b] = written[b]
        live = [d for dirs in new_buckets.values() for d in dirs]
        data_dir = os.path.join(self.path, _DATA, sid)
        total, lineage = self._partition_lineage(data_dir)
        return self._commit(
            sid, "merge", live, total,
            {
                **(metrics or {}),
                "lineage": lineage,
                "buckets_rewritten": len(written),
                "buckets_total": spec["n_buckets"],
            },
            _read_schema(merged),
            new_buckets,
        )

    def delete_where(self, condition, metrics: dict | None = None) -> Snapshot:
        """Row-level delete (reference imports.py:441-452)."""
        remaining = self.read().filter(~condition)
        return self._commit_rewrite(remaining, "delete", None, metrics)

    def _commit_rewrite(
        self,
        df: DataFrame,
        operation: str,
        partition_by: list[str] | None,
        metrics: dict | None,
    ) -> Snapshot:
        spec = self.bucket_spec()
        if spec is not None:
            # full rewrite of a bucketed table: replace the bucket map
            sid, written = self._write_bucketed_dir(df, spec)
            data_dir = os.path.join(self.path, _DATA, sid)
            total, lineage = self._partition_lineage(data_dir)
            return self._commit(
                sid, operation,
                [d for dirs in written.values() for d in dirs], total,
                {**(metrics or {}), "lineage": lineage},
                _read_schema(df),
                written,
            )
        sid = self._write_data_dir(df, partition_by)
        data_dir = os.path.join(self.path, _DATA, sid)
        total, lineage = self._partition_lineage(data_dir)
        return self._commit(
            sid, operation, [data_dir], total,
            {**(metrics or {}), "lineage": lineage},
            None if partition_by else _read_schema(df),
        )

    # -------------------------------------------------------- maintenance
    def compact(self, metrics: dict | None = None) -> Snapshot:
        """Rewrite the table's live data into one snapshot (Iceberg's
        ``rewrite_data_files``).  Append-heavy tables (the incremental
        pipeline's ``mention_occurrences``) accumulate one data dir — and
        its small files — per microbatch; compaction folds them so reads
        stop paying per-append file-listing and small-file overhead.
        Content is unchanged (tested); bucketed tables re-bucket through
        the same spec.  Applied streaming-batch markers from the whole
        history are folded into the new snapshot's ``stream_batch_ids``,
        and every table-level metric key (newest-wins — see
        ``_TABLE_LEVEL_METRIC_KEYS``) is carried forward, so a later
        expire_snapshots can erase neither the replay guard nor a
        watermark/fingerprint.  Caller ``metrics`` override carried
        values."""
        hist = self.history()
        ids = sorted(self._stream_batch_ids(hist))
        extra = {"stream_batch_ids": ids} if ids else {}
        return self._commit_rewrite(
            self.read(), "compact", None,
            {
                **self._carry_metrics(hist),
                **(metrics or {}),
                "compacted": True,
                **extra,
            },
        )

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg's ``expire_snapshots``: drop all but the newest
        ``keep_last`` manifests and DELETE data dirs referenced only by
        expired snapshots.  The current snapshot is always retained.
        Returns {"expired": n_manifests, "deleted_dirs": n_dirs}."""
        keep_last = max(1, int(keep_last))
        mdir = os.path.join(self.path, _MANIFESTS)
        names = sorted(os.listdir(mdir))  # snapshot ids are time-ordered
        current = self.current_snapshot_id()
        keep = set(names[-keep_last:])
        if current is not None:
            keep.add(f"{current}.json")
        live: set[str] = set()
        for name in keep:
            with open(os.path.join(mdir, name)) as f:
                live.update(json.loads(f.read())["live_dirs"])
        expired = [n for n in names if n not in keep]
        doomed: set[str] = set()
        expired_snaps: list[Snapshot] = []
        for name in expired:
            with open(os.path.join(mdir, name)) as f:
                s = Snapshot(**json.loads(f.read()))
            expired_snaps.append(s)
            doomed.update(s.live_dirs)
        doomed -= live
        # expiring manifests must not erase streaming replay guards or
        # table-level watermarks/fingerprints: fold any applied
        # stream_batch_id recorded ONLY in expired manifests into the
        # current manifest's stream_batch_ids, and any table-level metric
        # key the current manifest lacks (newest-wins over full history)
        # into its metrics, BEFORE deleting (fold first — a crash between
        # fold and delete merely duplicates markers/values, which the
        # set-union / newest-wins reads make harmless)
        kept_snaps = [
            Snapshot(**json.loads(open(os.path.join(mdir, n)).read()))
            for n in keep
        ]
        orphan_ids = self._stream_batch_ids(expired_snaps) - self._stream_batch_ids(
            kept_snaps
        )
        if current is not None:
            cur = self.snapshot()
            # history() reads manifests in ascending snapshot-id order, so
            # the fold below really is newest-wins over the FULL history
            carry = self._carry_metrics(self.history())
            missing = {k: v for k, v in carry.items() if k not in cur.metrics}
            if orphan_ids or missing:
                merged = sorted(
                    orphan_ids | set(cur.metrics.get("stream_batch_ids", []))
                )
                ids = {"stream_batch_ids": merged} if merged else {}
                cur.metrics = {**missing, **cur.metrics, **ids}
                _atomic_write_text(
                    os.path.join(mdir, f"{current}.json"), cur.to_json()
                )
        # delete manifests first: a crash mid-way leaves orphan data dirs
        # (safe, re-collectable) rather than manifests pointing at nothing
        for name in expired:
            os.remove(os.path.join(mdir, name))
        for d in doomed:
            shutil.rmtree(d, ignore_errors=True)
        return {"expired": len(expired), "deleted_dirs": len(doomed)}

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


class Warehouse:
    """A directory of Tables plus stage-completion manifests."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_stages"), exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.spark, os.path.join(self.root, name))

    # stage checkpoints -------------------------------------------------
    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.root, "_stages", f"{stage}.json")

    def stage_complete(self, stage: str) -> bool:
        return os.path.exists(self._stage_path(stage))

    def stage_metrics(self, stage: str) -> dict | None:
        if not self.stage_complete(stage):
            return None
        with open(self._stage_path(stage)) as f:
            return json.loads(f.read())

    def mark_stage_complete(self, stage: str, metrics: dict | None = None) -> None:
        payload = {"stage": stage, "metrics": metrics or {}}
        _atomic_write_text(self._stage_path(stage), json.dumps(payload, sort_keys=True))

    def reset_stage(self, stage: str) -> None:
        try:
            os.remove(self._stage_path(stage))
        except FileNotFoundError:
            pass
