"""Warehouse — persisted segments + manifest with checkpoint-resume.

Storage goes through the capability layer in `storage.py`: Iceberg
tables when a runtime jar is on the classpath (the north rule's named
backend), parquet directories otherwise — same table shapes either way:

    segments   SEGMENT_SCHEMA columns + run_id              (the data)
    manifest   same minus payload + status, committed_at    (lineage)

Commit protocol: an attempt's segments are written first; the manifest
rows (status='done', one per segment, payload dropped) are appended only
after that write succeeds — the manifest IS the commit record. Readers
keep only the segment rows whose (rowgroup_id, column, run_id,
attempt_id) the manifest commits (via the driver-side snapshot,
`snapshot.py`), so torn segment writes are invisible. `attempt_id` is
unique per encode_resumable INVOCATION: callers may (and do — streaming
batch replay, the facade's close retry) reuse a logical `run_id` after a
crash, and without the attempt key the retry's segments would share
their join key with the torn first attempt's rows, surfacing
duplicates.

On the parquet backend the driver commits every write: it builds the
attempt's manifest rows as an Arrow table and
`ParquetBackend.append_manifest` writes them with pyarrow to a hidden
staging file and renames it into the manifest dir — one file, one
atomic rename, no Spark job. Where the segments are encoded depends on
the write's decoded size, when the caller knows it before any job runs
(a close: its delta batch decoded with pyarrow in the driver; a
rowgroup rewrite: its victims' manifest raw_bytes):

- a small write (at most `operators.decode._DRIVER_WRITE_BYTES` decoded
  bytes) is encoded in the driver: one JVM-only job collects its rows
  sorted as the encode stage sorts them, the stage's kernel encodes
  them (`operators.encode.encode_in_driver`, byte-identical segments),
  and one segment file is written with pyarrow to a hidden staging name
  and renamed into `segments/`. The manifest rows come from that table;
- a larger write, or one of unknown size (upsert's incoming frame, a
  rebuild, a streaming batch), runs the Spark encode stage and appends
  its part files; the manifest rows are the non-payload columns of this
  attempt's new files (those not listed before the append), read with
  pyarrow.

The Iceberg backend keeps a DataFrame commit: the manifest rows are read
back from the segments table and appended with `writeTo`.

Either way a crash leaves the last committed state readable: the debris
of a crashed attempt (segment files it renamed or appended, staging
files it never renamed) is invisible and `vacuum_orphan_segments`
removes it.

The manifest doubles as the engine's work queue, the distributed analogue
of the reference's closed-group queue `DeltaStore.TryTakeClosed`
(`/root/reference/Outcompute.ColumnStore/DeltaStore.cs:63-84`): resume
left-anti-joins pending rowgroups against done ones and re-encodes only
the missing partitions, producing byte-identical final segments
(FIXTURES.md F5 resume fixture).
"""

from __future__ import annotations

import functools
import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs import chooser
from ..operators.arrow_io import FilePool, arrow_schema_for
from ..operators.encode import (SEGMENT_SCHEMA, default_rowgroup_expr, encode,
                                encode_files, encode_in_driver)
from ..plans.pruning import _ISIN_CAP
from .snapshot import ManifestSnapshot, SegmentFile, read_footer
from .storage import ParquetBackend, resolve_backend

_KEY_FIELDS = [T.StructField("run_id", T.StringType(), False),
               T.StructField("attempt_id", T.StringType(), False)]


# built on first use: converting a Spark schema imports pandas, which
# importing this module must not pay for
@functools.cache
def _segment_rows() -> pa.Schema:
    """A segment file's rows: the encoded segments and their commit
    attempt."""
    return arrow_schema_for(T.StructType(SEGMENT_SCHEMA.fields
                                         + _KEY_FIELDS))


@functools.cache
def _manifest_schema() -> pa.Schema:
    """A manifest commit's rows, every field nullable (tombstones carry
    the live rows of stores written before a column existed)."""
    return arrow_schema_for(T.StructType([
        T.StructField(f.name, f.dataType, True)
        for f in [*SEGMENT_SCHEMA.fields, *_KEY_FIELDS,
                  T.StructField("status", T.StringType()),
                  T.StructField("committed_at", T.StringType())]
        if f.name != "payload"]))


def in_rowgroups(df: DataFrame, ids, keep: bool = True) -> DataFrame:
    """`df` rows whose `__rg` is one of `ids` (`keep=False`: is none
    of them): a literal IN filter up to `_ISIN_CAP` ids, a broadcast
    semi/anti-join past it."""
    ids = sorted(ids)
    if len(ids) <= _ISIN_CAP:
        cond = F.col("__rg").isin(ids)
        return df.where(cond if keep else ~cond)
    kdf = df.sparkSession.createDataFrame([(i,) for i in ids], "__rg long")
    return df.join(F.broadcast(kdf), on="__rg",
                   how="left_semi" if keep else "left_anti")


class Warehouse:
    """The segments and manifest under `root`. Per committed state it
    keeps, in the driver, the manifest snapshot (`snapshot`), the
    footers of the segment files the snapshot pins and a `FilePool` of
    those files' contents, which the small reads the decode stage runs
    in the driver take their files from (`pinned_read`). A new
    snapshot drops the footers and pooled files it no longer pins.

    The snapshot also carries the memo of probe answers decoded from
    its commit (`ManifestSnapshot.answers`). A commit by any store
    object or process changes `token`, so the next `snapshot` call
    builds a new snapshot and the old answers go with the old one;
    until then a repeated probe returns the same frame object."""

    def __init__(self, root: str, format: str = "auto"):
        self.root = root.rstrip("/")
        self._format = format
        self._backend = None
        # parquet-layout paths (meaningful for the parquet backend;
        # kept as attributes so plan tests can scan them directly)
        self.segments_path = f"{self.root}/segments"
        self.manifest_path = f"{self.root}/manifest"
        # (token, snapshot) of the last committed state read, the
        # footers of the (immutable) segment files it pins and the
        # pool of their contents
        self._snap: tuple | None = None
        self._footers: dict[str, SegmentFile] = {}
        self._pool = FilePool()

    def backend(self, spark: SparkSession):
        """Resolve the storage backend once per warehouse (iceberg when
        the jar is present and format='auto', else parquet)."""
        if self._backend is None:
            self._backend = resolve_backend(spark, self.root, self._format)
        return self._backend

    # -- read ---------------------------------------------------------------

    def token(self, spark: SparkSession):
        """Fingerprint of the committed state: the manifest's files with
        their sizes and mtimes (every commit writes a new one) and the
        segment files' names (a snapshot pins that list). Parquet
        backend only — an Iceberg table's layout isn't ours to
        fingerprint; None there."""
        backend = self.backend(spark)
        if not isinstance(backend, ParquetBackend):
            return None
        files = backend.manifest_files()
        if files is None:
            return ()
        stats = []
        for f in files:
            st = os.stat(f)
            stats.append((f, st.st_size, st.st_mtime_ns))
        return tuple(stats), tuple(backend.segment_files())

    def snapshot(self, spark: SparkSession) -> ManifestSnapshot | None:
        """The committed state as a driver-side manifest snapshot
        (`sources/snapshot.py`), or None before the first commit.
        Parquet: one pyarrow read per commit, memoized on `token`;
        Iceberg: built from the table read on every call (no test
        covers it — the suite runs without an Iceberg runtime jar)."""
        backend = self.backend(spark)
        if not isinstance(backend, ParquetBackend):
            m = backend.read_manifest(spark)
            return None if m is None else ManifestSnapshot(m.toArrow(),
                                                           files=None)
        tok = self.token(spark)
        if self._snap is not None and self._snap[0] == tok:
            return self._snap[1]
        raw = backend.read_manifest_arrow([f for f, _size, _mtime in
                                           (tok[0] if tok else ())])
        snap = None
        paths = ()
        if raw is not None:
            paths = tok[1]
            self._footers = {p: self._footers.get(p) or read_footer(p)
                             for p in paths}
            snap = ManifestSnapshot(raw, [self._footers[p] for p in paths])
        self._pool.pin(paths)
        self._snap = (tok, snap)
        return snap

    def manifest(self, spark: SparkSession) -> DataFrame | None:
        """The RAW append-only manifest history. Most readers want
        `live_manifest` (latest run per rowgroup/column, compaction
        tombstones applied); the raw view is for lineage — e.g. "which
        run_ids ever committed" (the facade's pending-batch queue)."""
        snap = self.snapshot(spark)
        return None if snap is None else snap.frame(spark, raw=True)

    def live_manifest(self, spark: SparkSession) -> DataFrame | None:
        """The latest committed manifest row per (rowgroup_id, column),
        with compaction tombstones applied — the metadata view of
        exactly the segments `committed_segments` serves. Stats,
        aggregate pushdown, and pruning must read THIS view: after a
        `compact()` the raw history still holds the superseded
        rowgroups' rows, and rolling those up would double-count.
        Built from the driver-side snapshot (no manifest file read).

        Tie-breaks: committed_at has 1-second resolution, so two
        replays of the same run_id can tie — the pick must be
        deterministic AND attempt-consistent across columns, or a
        rowgroup could assemble from segments of different attempts.
        'retired' (a compaction tombstone) outranks 'done' at equal
        committed_at: a compact() in the same second as the ingest it
        supersedes must still win, and the reverse order can't occur
        (resume treats retired rowgroups as complete, so no later
        'done' is ever written for a retired id — see compact())."""
        snap = self.snapshot(spark)
        return None if snap is None else snap.frame(spark)

    def committed_segments(self, spark: SparkSession,
                           snapshot: ManifestSnapshot | None = None,
                           rowgroups=None) -> DataFrame:
        """Segments visible under the commit protocol: the live
        (rowgroup_id, column, run_id, attempt_id) keys of `snapshot`
        (default: the current commit), restricted to `rowgroups` when
        given — read from the snapshot's pinned files."""
        snap = snapshot or self.snapshot(spark)
        if snap is None:
            raise FileNotFoundError(f"no manifest at {self.manifest_path}")
        return snap.segments(spark, self.backend(spark), rowgroups)

    def pinned_read(self, spark: SparkSession, snapshot: ManifestSnapshot,
                    rowgroups=None):
        """The committed segments of `snapshot` restricted to
        `rowgroups` (None = every live one) as the decode operators'
        input: a `PinnedRead` they read with pyarrow, in the driver
        when small, else in their tasks — no JVM scan, no shuffle — or,
        on the Iceberg backend (no pinned file list), the
        `committed_segments` DataFrame. A driver read takes its files
        from this warehouse's pool, so a file is read from disk at most
        once while the current snapshot pins it."""
        if snapshot.files is None:
            return self.committed_segments(spark, snapshot, rowgroups)
        return snapshot.pinned(spark, rowgroups, pool=self._pool)

    def done_rowgroups(self, spark: SparkSession) -> DataFrame | None:
        ids = self._done_ids(spark)
        if ids is None:
            return None
        return spark.createDataFrame([(i,) for i in sorted(ids)],
                                     "rowgroup_id long")

    def _without_done(self, spark: SparkSession,
                      work: DataFrame) -> DataFrame:
        """`work` minus its rows whose `__rg` rowgroup is committed
        (the done ids come off the snapshot)."""
        done = self._done_ids(spark)
        return in_rowgroups(work, done, keep=False) if done else work

    def _done_ids(self, spark: SparkSession) -> frozenset | None:
        snap = self.snapshot(spark)
        if snap is None:
            return None
        raw = snap.raw.filter(pc.equal(snap.raw["status"], "done"))
        return frozenset(raw["rowgroup_id"].to_pylist())

    def read_unified(self, delta_df: DataFrame, num_rowgroups: int,
                     rows_per_segment: int = 1_000_000,
                     rowgroup_offset: int = 0) -> DataFrame:
        """The reference's whole-store enumeration — solid row groups
        first, then delta rows still awaiting compaction
        (`ColumnStore.GetEnumerator`, `ColumnStore.cs:76-87`: solid
        groups, then `DeltaStore` groups): rows whose rowgroup has been
        committed are decoded from the warehouse; rows of pending
        rowgroups are served raw from the delta frame. Mid-ingest
        readers therefore see EVERY row exactly once (committed ones in
        their encoded form), not just what the manifest has closed.

        `delta_df` must be the same frame (and rowgroup parameters)
        the in-flight `encode_resumable` run is consuming. Scale: the
        anti-join ships only the manifest's rowgroup ids (metadata);
        the raw side is a pruned scan of the ingest table.
        """
        from ..operators.decode import decode

        spark = delta_df.sparkSession
        rg_expr = default_rowgroup_expr(num_rowgroups, rows_per_segment,
                                        columns=delta_df.columns)
        if rowgroup_offset:
            rg_expr = rg_expr + F.lit(int(rowgroup_offset))
        snap = self.snapshot(spark)
        if snap is None:
            return delta_df
        solid = decode(self.pinned_read(spark, snap), schema=delta_df.schema)
        pending = self._without_done(
            spark, delta_df.withColumn("__rg", rg_expr.cast("long")))
        return solid.unionByName(pending.drop("__rg"))

    # -- write --------------------------------------------------------------

    def encode_resumable(self, df: DataFrame, num_rowgroups: int,
                         rows_per_segment: int = 1_000_000,
                         mode: str = chooser.MODE_SIZE,
                         run_id: str | None = None,
                         fail_after_rowgroups: int | None = None,
                         rowgroup_offset: int = 0,
                         bloom_columns: tuple[str, ...] = (),
                         rowgroup_expr=None,
                         order: tuple | None = None,
                         input_bytes: int | None = None) -> dict:
        """Encode `df` into the warehouse, skipping rowgroups already
        committed by earlier runs — the delta->solid step, committed
        from the driver (see the module docstring).

        `input_bytes` is `df`'s decoded size, known before any job
        (the facade's close: `TranscriptColumnStore._batch_bytes`);
        None when unknown. A write of at most `_DRIVER_WRITE_BYTES` is
        encoded in the driver (`_in_driver`): one collect job, the
        encode kernel in the driver, one segment file, then the
        commit. An empty collect commits nothing. Any other write runs
        the Spark encode stage after an `isEmpty` check.

        `fail_after_rowgroups` is the FIXTURES.md F5 failure-injection
        hook: only the first k pending rowgroups are committed, simulating
        a mid-run kill that still left a consistent manifest.

        `rowgroup_offset` namespaces rowgroup ids per ingest batch
        (streaming micro-batches append disjoint id ranges, so the
        done-rowgroup anti-join never confuses two batches' groups).

        `rowgroup_expr` / `order` override the layout (e.g. Z-order
        clustering, `operators/zorder.py`). The expression MUST be
        deterministic over the row's own values — resume identity and
        the done-rowgroup anti-join depend on a row landing in the
        same rowgroup on every attempt (the default conv-hash expr and
        the z-grid both are).
        """
        spark = df.sparkSession
        run_id = run_id or uuid.uuid4().hex[:12]
        rg_expr = (rowgroup_expr if rowgroup_expr is not None
                   else default_rowgroup_expr(num_rowgroups,
                                              rows_per_segment,
                                              columns=df.columns))
        if rowgroup_offset:
            rg_expr = rg_expr + F.lit(int(rowgroup_offset))
        work = self._without_done(spark, df.withColumn("__rg", rg_expr))
        backend = self.backend(spark)
        okw = {} if order is None else {"order": order}
        # unique per INVOCATION: a crashed attempt's torn segment rows
        # must never share a manifest join key with this retry's rows,
        # even when the caller replays the same logical run_id
        attempt = uuid.uuid4().hex[:12]

        if self._in_driver(spark, input_bytes):
            # an empty collect commits nothing (`_commit`)
            segs = encode_in_driver(work.drop("__rg"), rg_expr, mode=mode,
                                    bloom_columns=bloom_columns,
                                    max_rowgroups=fail_after_rowgroups,
                                    **okw)
            return self._commit(spark, backend, segs, run_id, attempt)

        if fail_after_rowgroups is not None:
            keep = [r["__rg"] for r in
                    work.select("__rg").distinct()
                        .orderBy("__rg").limit(fail_after_rowgroups).collect()]
            work = work.where(F.col("__rg").isin(keep))
        # cheap short-circuit (take(1), not a full distinct+count scan)
        if work.isEmpty():
            return {"run_id": run_id, "rowgroups_encoded": 0,
                    "storage": backend.name}
        segs = encode(work.drop("__rg"), rowgroup_expr=rg_expr,
                      rows_per_segment=rows_per_segment, mode=mode,
                      bloom_columns=bloom_columns, **okw)
        return self._commit(spark, backend, segs, run_id, attempt)

    def _in_driver(self, spark: SparkSession, nbytes: int | None) -> bool:
        """Whether a write of `nbytes` input bytes (None: unknown) is
        encoded in the driver: the parquet backend only (Iceberg keeps
        its DataFrame commit), at most `_DRIVER_WRITE_BYTES`."""
        from ..operators.decode import _DRIVER_WRITE_BYTES
        return (isinstance(self.backend(spark), ParquetBackend)
                and nbytes is not None and nbytes <= _DRIVER_WRITE_BYTES)

    def compact(self, spark: SparkSession, min_fill: float = 0.5,
                rows_per_segment: int = 1_000_000,
                mode: str = chooser.MODE_SIZE,
                run_id: str | None = None,
                bloom_columns: tuple[str, ...] = ()) -> dict:
        """Merge under-capacity rowgroups into capacity-sized ones —
        the warehouse analogue of Iceberg's rewrite_data_files (and
        the missing half of the reference's `TryCompact`: delta→solid
        compaction exists as the encode stage; THIS folds accumulated
        small solids). Compression ratio is a strong function of
        segment size (BENCH.md §2a: 4.7x at 6k rows vs 14.4x at 100k
        on transcripts — small segments each pay their own
        dictionary), and streaming ingest at small micro-batches
        accretes exactly such under-filled rowgroups.

        Rowgroups with fewer than `min_fill * rows_per_segment` rows
        are decoded, re-encoded into new capacity-sized rowgroups
        (ids above every existing id), and committed in ONE manifest
        append that also carries a 'retired' tombstone per superseded
        (rowgroup_id, column) — `replace_rowgroups`. Atomic by the
        same standard as ingest: a crash before the append leaves the
        old rowgroups live and the new segments invisible. Readers
        apply tombstones via `live_manifest`; resume keeps treating
        retired ids as complete (their historical 'done' rows remain),
        so a replayed ingest never re-encodes them. Retired payload
        rows stay in the segments table until `rebuild()` rewrites
        the generation — same reclamation contract as vacuum().

        The small-rowgroup set comes off the driver-side manifest
        snapshot (one row count per rowgroup); their rows decode
        through the snapshot's pinned read; their manifest raw_bytes
        place the rewrite's encode (`replace_rowgroups`).
        """
        from ..operators.decode import decode

        backend = self.backend(spark)
        run_id = run_id or f"compact-{uuid.uuid4().hex[:8]}"
        empty = {"run_id": run_id, "rowgroups_encoded": 0,
                 "rowgroups_retired": 0, "storage": backend.name}
        snap = self.snapshot(spark)
        if snap is None:
            return empty
        thresh = int(min_fill * rows_per_segment)
        small = sorted(rg for rg, n in snap.rowgroup_rows.items()
                       if n < thresh)
        if len(small) < 2:
            return empty
        rows = decode(self.pinned_read(spark, snap, small),
                      schema=snap.decode_schema)
        return self.replace_rowgroups(
            spark, small, rows, rows_per_segment=rows_per_segment,
            mode=mode, run_id=run_id, bloom_columns=bloom_columns,
            input_bytes=snap.rowgroup_bytes(small))

    def replace_rowgroups(self, spark: SparkSession, victims: list[int],
                          rows: DataFrame, victim_rows: int | None = None,
                          rows_per_segment: int = 1_000_000,
                          mode: str = chooser.MODE_SIZE,
                          run_id: str | None = None,
                          bloom_columns: tuple[str, ...] = (),
                          input_bytes: int | None = None) -> dict:
        """Atomically replace the rowgroups `victims` (a list of live
        rowgroup ids) with `rows` re-encoded into capacity-sized
        groups — the one tombstone+replace commit under compact() and
        the facade's delete_where(), delete_keys() and upsert() (all
        three through `TranscriptColumnStore._rewrite`). One manifest
        append carries both the new 'done' rows and a 'retired'
        tombstone per superseded (rowgroup_id, column), built from the
        snapshot's live rows; a crash before it leaves the old
        rowgroups live and the new segments invisible.

        `input_bytes` places the encode as in `encode_resumable`: the
        decoded size of `rows` when known before any job (compact,
        delete_where, delete_keys: the victims' manifest raw_bytes,
        `ManifestSnapshot.rowgroup_bytes`), None when not (upsert's
        incoming frame has no metadata size). A write of at most
        `_DRIVER_WRITE_BYTES` is encoded in the driver
        (`encode_in_driver`, one collect job) and committed from
        there; any other runs the Spark encode stage.

        Every victim must be live in the snapshot this commit is made
        against; otherwise RuntimeError is raised before anything is
        written. A victim that stopped being live after the caller's
        scan (a commit by another store object: the single-writer
        contract broken) would retire fewer rowgroups than were
        rewritten, and its surviving rows would appear twice.

        `victim_rows` sizes the new groups without counting `rows`
        (an upper bound is fine — deletes only shrink); when omitted
        it is summed off the live manifest."""
        backend = self.backend(spark)
        run_id = run_id or f"rewrite-{uuid.uuid4().hex[:8]}"
        snap = self.snapshot(spark)
        ids = sorted(set(victims))
        stale = [i for i in ids
                 if snap is None or i not in snap.rowgroup_rows]
        if stale:
            raise RuntimeError(
                f"replace_rowgroups: victim rowgroup(s) {stale[:5]} "
                f"({len(stale)} of {len(ids)}) are not live — the store "
                "changed underneath the caller; nothing was committed")
        if snap is None:
            return {"run_id": run_id, "rowgroups_encoded": 0,
                    "rowgroups_retired": 0, "storage": backend.name}
        if victim_rows is None:
            victim_rows = sum(snap.rowgroup_rows[i] for i in ids)
        # the id high-water mark must come from the RAW manifest, not
        # the live view: a tombstone-only commit (delete_where erasing
        # every row of a rowgroup writes 'retired' rows and zero 'done'
        # rows) removes the id from live, and reusing it would write a
        # later 'done' for a retired id — which live_manifest's
        # same-second tie-break (retired outranks done) then hides.
        # An empty manifest (zero-row commits only) has no max id.
        max_id = int(snap.max_rowgroup_id or 0)
        n_new = max(1, -(-victim_rows // rows_per_segment))
        # rewritten ids live in their own namespace at 2^62+: ingest
        # ids are `batch_idx << 40 + bucket expr`, so they stay below
        # 2^62 until batch 2^22 — a fresh ingest batch can never
        # collide with (and thus be resume-skipped by) a rewritten id.
        # Repeated rewrites keep growing from the global max.
        offset = max(1 << 62, max_id + 1)
        rg_expr = (default_rowgroup_expr(n_new, rows_per_segment,
                                         columns=rows.columns)
                   + F.lit(offset))
        if self._in_driver(spark, input_bytes):
            segs = encode_in_driver(rows, rg_expr, mode=mode,
                                    bloom_columns=bloom_columns)
        else:
            segs = encode(rows, rowgroup_expr=rg_expr,
                          rows_per_segment=rows_per_segment, mode=mode,
                          bloom_columns=bloom_columns)
        # tombstones: the live manifest rows being superseded, taken
        # from the snapshot — nothing here evaluates after the commit
        # starts mutating state
        attempt = uuid.uuid4().hex[:12]
        out = self._commit(spark, backend, segs, run_id, attempt,
                           retire=snap.live_rows(ids))
        out["rowgroups_retired"] = len(ids)
        return out

    def _commit(self, spark: SparkSession, backend, segs, run_id: str,
                attempt: str, retire: pa.Table | None = None) -> dict:
        """Write this attempt's segments, then commit them: the
        manifest append is the commit point. `segs` is the segments of
        a driver-placed encode (an Arrow table, written as one segment
        file) or of the Spark encode stage (a DataFrame, appended as
        part files).

        Parquet: the manifest rows are built in the driver as an Arrow
        table — from `segs` itself, or from the non-payload columns of
        the attempt's new part files — and committed by
        `ParquetBackend.append_manifest` (a pyarrow write and an
        atomic rename); no Spark job reads anything back.
        `rowgroups_encoded` counts their distinct 'done' rowgroup ids.
        An attempt with no manifest row commits nothing.

        `retire` (a rewrite): the snapshot's live manifest rows whose
        (rowgroup_id, column)s this run supersedes. They become
        'retired' tombstones in the SAME manifest append as the 'done'
        rows, so retirement commits atomically with the replacement
        segments — a crash before the append leaves the old rowgroups
        live and the new segments invisible (torn), never a state
        where rows are double-counted or missing."""
        committed_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        if not isinstance(backend, ParquetBackend):
            return self._commit_frame(spark, backend, segs, run_id, attempt,
                                      committed_at, retire)
        if isinstance(segs, pa.Table):
            n = segs.num_rows
            segs = (segs.append_column("run_id", pa.array([run_id] * n))
                    .append_column("attempt_id", pa.array([attempt] * n))
                    .cast(_segment_rows()))
            if n:
                backend.append_segment_table(segs)
            done = segs.drop_columns(["payload"])
        else:
            listed = set(backend.segment_files())
            backend.append_segments(
                segs.withColumn("run_id", F.lit(run_id))
                    .withColumn("attempt_id", F.lit(attempt)))
            done = _attempt_rows([p for p in backend.segment_files()
                                  if p not in listed], run_id, attempt)
        rows = [_manifest_rows(done, "done", committed_at)]
        if retire is not None:
            rows.append(_manifest_rows(retire, "retired", committed_at,
                                       run_id, attempt))
        manifest = pa.concat_tables(rows)
        if manifest.num_rows:
            backend.append_manifest(manifest)
        return {"run_id": run_id,
                "rowgroups_encoded": pc.count_distinct(
                    done["rowgroup_id"]).as_py(),
                "storage": backend.name}

    def _commit_frame(self, spark: SparkSession, backend, segs: DataFrame,
                      run_id: str, attempt: str, committed_at: str,
                      retire: pa.Table | None) -> dict:
        """`_commit` on the Iceberg backend: the segments appended, the
        manifest rows read back from the segments table (an append
        there is an atomic snapshot commit) and appended with
        `writeTo`. No test covers it (no Iceberg runtime jar here)."""
        segs = (segs.withColumn("run_id", F.lit(run_id))
                    .withColumn("attempt_id", F.lit(attempt)))
        backend.append_segments(segs)

        # a legacy table (created before attempt_id existed) may have
        # dropped the column on append (Iceberg DSv2 schema fit); the
        # read-back then filters on run_id alone — the pre-attempt_id
        # behavior that store's data was written under
        def _attempt_cond(df: DataFrame):
            cond = F.col("run_id") == run_id
            if "attempt_id" in df.columns:
                cond = cond & (F.col("attempt_id") == attempt)
            return cond

        segs_back = backend.read_segments(spark)
        manifest = (segs_back.where(_attempt_cond(segs_back))
                    .drop("payload")
                    .withColumn("status", F.lit("done"))
                    .withColumn("committed_at", F.lit(committed_at)))
        if retire is not None:
            tomb = spark.createDataFrame(_manifest_rows(
                retire, "retired", committed_at, run_id, attempt))
            manifest = manifest.unionByName(
                tomb.select(*manifest.columns))
        backend.append_manifest(manifest)
        m_back = backend.read_manifest(spark)
        # count only 'done' rows: a rewrite's retire tombstones share
        # this run/attempt and must not inflate the reported count
        pending = (m_back.where(_attempt_cond(m_back))
                   .where(F.col("status") == "done")
                   .select("rowgroup_id").distinct().count())
        return {"run_id": run_id, "rowgroups_encoded": pending,
                "storage": backend.name}

    def encode_files_resumable(self, spark: SparkSession, paths,
                               rowgroup_col: str = "__rg",
                               order: tuple[str, ...] = ("conv_id",
                                                         "turn_idx"),
                               mode: str = chooser.MODE_SIZE,
                               run_id: str | None = None,
                               presorted: bool = False,
                               bloom_columns: tuple[str, ...] = ()) -> dict:
        """Direct-scan resumable encode over a bucketed parquet layout
        (`encode_files`): the done-rowgroup queue is broadcast to the
        scan tasks, so a file whose rowgroups are all committed is
        skipped after one footer+key-column read — resume never
        re-reads completed data. Same commit protocol as
        `encode_resumable` (manifest append = commit point)."""
        run_id = run_id or uuid.uuid4().hex[:12]
        skip = self._done_ids(spark) or frozenset()
        backend = self.backend(spark)
        attempt = uuid.uuid4().hex[:12]
        segs = encode_files(spark, paths, rowgroup_col=rowgroup_col,
                            order=order, mode=mode, skip_rowgroups=skip,
                            presorted=presorted,
                            bloom_columns=bloom_columns)
        # no driver-side emptiness probe: it would encode a whole file
        # just to peek; an all-done run writes zero segment rows and
        # commits no manifest row (rowgroups_encoded=0)
        return self._commit(spark, backend, segs, run_id, attempt)

    def vacuum_orphan_segments(self, spark: SparkSession) -> list[str]:
        """Delete the debris of write attempts that crashed before their
        manifest commit, returning the removed paths:

        - segment files none of whose (run_id, attempt_id)s reached the
          manifest (appended or renamed into `segments/` by the
          attempt), and zero-row part files (Spark appends write them;
          they serve no read);
        - hidden staging files (and staging dirs) in `segments/` and
          `manifest/` that a crash left before their rename
          (`ParquetBackend.remove_staging`).

        The commit protocol keeps this debris invisible to every read,
        but the segment files are still listed and footer-read, and at
        warehouse scale that is wasted IO forever. Which attempt wrote
        a file comes from its parquet footer (`read_footer`); no Spark
        job runs, and a file whose footer names no single attempt is
        kept. Parquet backend only (Iceberg
        debris belongs to expire_snapshots / orphan-file removal on the
        catalog side).

        Single-writer contract (same as the generation GC): must not
        run concurrently with an in-flight write, whose fresh segment
        and staging files would look orphaned until its commit."""
        backend = self.backend(spark)
        if not isinstance(backend, ParquetBackend):
            return []
        removed = backend.remove_staging()
        snap = self.snapshot(spark)
        candidates = backend.segment_files()
        if snap is None or not candidates:
            return removed
        committed = set(zip(snap.raw["run_id"].to_pylist(),
                            snap.raw["attempt_id"].to_pylist()))
        live = set()
        for path in candidates:
            f = self._footers.get(path) or read_footer(path)
            # a file whose footer names no single attempt is kept
            if f.n_rows and (f.attempt is None
                             or snap._attempt(f) in committed):
                live.add(path)
        # safety invariant: nothing live means an all-debris store —
        # deleting everything would leave an empty dir that breaks
        # reads. Touch nothing.
        if not live:
            return removed
        for path in sorted(set(candidates) - live):
            try:
                os.remove(path)
                removed.append(path)
            except FileNotFoundError:
                pass
        return removed


def _attempt_rows(paths: list[str], run_id: str, attempt: str) -> pa.Table:
    """The non-payload columns of the rows of segment files `paths`
    that commit attempt (`run_id`, `attempt`) wrote, read with
    pyarrow."""
    import pyarrow.dataset as ds

    cols = [f.name for f in _segment_rows() if f.name != "payload"]
    if not paths:
        return _segment_rows().empty_table().select(cols)
    data = ds.dataset(paths, format="parquet")
    return data.to_table(columns=cols, filter=(
        (ds.field("run_id") == run_id)
        & (ds.field("attempt_id") == attempt)))


def _manifest_rows(rows: pa.Table, status: str, committed_at: str,
                   run_id: str | None = None,
                   attempt: str | None = None) -> pa.Table:
    """`rows` (segment or manifest rows) as manifest rows of `status`,
    committed at `committed_at` — by (`run_id`, `attempt`) when given,
    else by the rows' own — in `_manifest_schema()`. A column `rows`
    lack (a live row of a store written before it existed) is NULL."""
    schema = _manifest_schema()
    n = rows.num_rows
    const = {"status": status, "committed_at": committed_at}
    if run_id is not None:
        const.update(run_id=run_id, attempt_id=attempt)
    cols = [pa.array([const[f.name]] * n, f.type) if f.name in const
            else rows[f.name].cast(f.type) if f.name in rows.column_names
            else pa.nulls(n, f.type)
            for f in schema]
    return pa.Table.from_arrays(cols, schema=schema)
