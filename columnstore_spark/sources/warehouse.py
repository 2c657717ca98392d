"""Warehouse — persisted segments + manifest with checkpoint-resume.

Storage goes through the capability layer in `storage.py`: Iceberg
tables when a runtime jar is on the classpath (the north rule's named
backend), parquet directories otherwise — same table shapes either way:

    segments   SEGMENT_SCHEMA columns + run_id              (the data)
    manifest   same minus payload + status, committed_at    (lineage)

Commit protocol: segments parquet is written first, the manifest rows
(status='done') are appended only after that write succeeds — the
manifest IS the commit record. Readers keep only the segment rows whose
(rowgroup_id, column, run_id, attempt_id) the manifest commits (via the
driver-side snapshot, `snapshot.py`), so torn segment writes are
invisible. `attempt_id` is unique per encode_resumable INVOCATION:
callers may (and do — streaming batch replay, the facade's close
retry) reuse a logical `run_id` after a crash, and without the attempt
key the retry's segments would share their join key with the torn
first attempt's rows, surfacing duplicates.

The manifest doubles as the engine's work queue, the distributed analogue
of the reference's closed-group queue `DeltaStore.TryTakeClosed`
(`/root/reference/Outcompute.ColumnStore/DeltaStore.cs:63-84`): resume
left-anti-joins pending rowgroups against done ones and re-encodes only
the missing partitions, producing byte-identical final segments
(FIXTURES.md F5 resume fixture).
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codecs import chooser
from ..operators.arrow_io import FilePool
from ..operators.encode import default_rowgroup_expr, encode, encode_files
from ..plans.pruning import _ISIN_CAP
from .snapshot import ManifestSnapshot, SegmentFile, read_footer
from .storage import ParquetBackend, resolve_backend


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
    snapshot drops the footers and pooled files it no longer pins."""

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
                         order: tuple | None = None) -> dict:
        """Encode `df` into the warehouse, skipping rowgroups already
        committed by earlier runs.

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

        if fail_after_rowgroups is not None:
            keep = [r["__rg"] for r in
                    work.select("__rg").distinct()
                        .orderBy("__rg").limit(fail_after_rowgroups).collect()]
            work = work.where(F.col("__rg").isin(keep))

        backend = self.backend(spark)
        # cheap short-circuit (take(1), not a full distinct+count scan —
        # the returned rowgroup count comes from the metadata-only
        # manifest read-back after the commit instead)
        if work.isEmpty():
            return {"run_id": run_id, "rowgroups_encoded": 0,
                    "storage": backend.name}

        # unique per INVOCATION: a crashed attempt's torn segment rows
        # must never share a manifest join key with this retry's rows,
        # even when the caller replays the same logical run_id
        attempt = uuid.uuid4().hex[:12]
        okw = {} if order is None else {"order": order}
        segs = encode(work.drop("__rg"), rowgroup_expr=rg_expr,
                      rows_per_segment=rows_per_segment, mode=mode,
                      bloom_columns=bloom_columns, **okw)
        return self._commit(spark, backend, segs, run_id, attempt)

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
        (rowgroup_id, column) — `_commit(retire=...)`. Atomic by the
        same standard as ingest: a crash before the append leaves the
        old rowgroups live and the new segments invisible. Readers
        apply tombstones via `live_manifest`; resume keeps treating
        retired ids as complete (their historical 'done' rows remain),
        so a replayed ingest never re-encodes them. Retired payload
        rows stay in the segments table until `rebuild()` rewrites
        the generation — same reclamation contract as vacuum().

        The small-rowgroup set comes off the driver-side manifest
        snapshot (one row count per rowgroup); their rows decode
        through the snapshot's pinned read.
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
            mode=mode, run_id=run_id, bloom_columns=bloom_columns)

    def replace_rowgroups(self, spark: SparkSession, victims: list[int],
                          rows: DataFrame, victim_rows: int | None = None,
                          rows_per_segment: int = 1_000_000,
                          mode: str = chooser.MODE_SIZE,
                          run_id: str | None = None,
                          bloom_columns: tuple[str, ...] = ()) -> dict:
        """Atomically replace the rowgroups `victims` (a list of live
        rowgroup ids) with `rows` re-encoded into capacity-sized
        groups — the one tombstone+replace commit under compact() and
        the facade's delete_where(), delete_keys() and upsert() (all
        three through `TranscriptColumnStore._rewrite`). One manifest
        append carries both the new 'done' rows and a 'retired'
        tombstone per superseded (rowgroup_id, column); a crash before
        it leaves the old rowgroups live and the new segments
        invisible.

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
        segs = encode(rows, rowgroup_expr=rg_expr,
                      rows_per_segment=rows_per_segment, mode=mode,
                      bloom_columns=bloom_columns)
        # tombstones: the live manifest rows being superseded, taken
        # from the snapshot — nothing here evaluates after the commit
        # starts mutating state
        retire = snap.frame(spark, rowgroups=ids)
        attempt = uuid.uuid4().hex[:12]
        out = self._commit(spark, backend, segs, run_id, attempt,
                           retire=retire)
        out["rowgroups_retired"] = len(ids)
        return out

    def _commit(self, spark: SparkSession, backend, segs: DataFrame,
                run_id: str, attempt: str,
                retire: DataFrame | None = None) -> dict:
        """Write segments, then the manifest — the manifest append IS
        the commit point (on Iceberg, additionally an atomic snapshot
        commit); the manifest rows are a metadata-only read-back of
        what THIS attempt wrote.

        `retire` (compaction): manifest-shaped rows whose
        (rowgroup_id, column)s this run supersedes. They are unioned
        into the SAME manifest append as the 'done' rows, so
        retirement commits atomically with the replacement segments —
        a crash before the append leaves the old rowgroups live and
        the new segments invisible (torn), never a state where rows
        are double-counted or missing."""
        segs = (segs.withColumn("run_id", F.lit(run_id))
                    .withColumn("attempt_id", F.lit(attempt)))
        backend.append_segments(segs)
        committed_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())

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
            tomb = (retire.withColumn("status", F.lit("retired"))
                    .withColumn("committed_at", F.lit(committed_at))
                    .withColumn("run_id", F.lit(run_id)))
            if "attempt_id" in manifest.columns:
                tomb = tomb.withColumn("attempt_id", F.lit(attempt))
            # legacy-store shim, generalized: `retire` rows come from a
            # manifest that may predate ANY additive nullable column
            # (bloom words, sum_repr, typed bounds...) the fresh 'done'
            # side carries — null-fill them so the union never throws
            # on an upgraded store's first compact()/delete
            for f in manifest.schema.fields:
                if f.name not in tomb.columns:
                    tomb = tomb.withColumn(
                        f.name, F.lit(None).cast(f.dataType))
            manifest = manifest.unionByName(
                tomb.select(*manifest.columns))
        backend.append_manifest(manifest)
        m_back = backend.read_manifest(spark)
        # count only 'done' rows: a compaction/delete commit's retire
        # tombstones share this run/attempt and must not inflate the
        # reported encoded-rowgroup count
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
        # just to peek; an all-done run commits zero segment rows and
        # zero manifest rows, which reads back as rowgroups_encoded=0
        return self._commit(spark, backend, segs, run_id, attempt)

    def vacuum_orphan_segments(self, spark: SparkSession) -> list[str]:
        """Delete segment part files whose every (run_id, attempt_id)
        never reached the manifest — the debris of attempts that
        crashed between `append_segments` and the manifest commit. The
        commit protocol keeps them invisible to every read (segments
        serve only via the manifest join), but the files are still
        listed, footer-read, and join-filtered on each scan; at
        warehouse scale that is wasted IO forever. Parquet backend
        only (Iceberg debris belongs to expire_snapshots / orphan-file
        removal on the catalog side).

        Single-writer contract (same as the generation GC): must not
        run concurrently with an in-flight encode, whose freshly
        appended segments would look orphaned until its commit."""
        import os
        from urllib.parse import unquote, urlparse

        from .storage import ParquetBackend

        backend = self.backend(spark)
        if not isinstance(backend, ParquetBackend):
            return []
        try:
            listing = os.listdir(self.segments_path)
        except FileNotFoundError:
            return []  # no segments table yet
        candidates = {
            os.path.abspath(os.path.join(self.segments_path, n))
            for n in listing
            if not n.startswith(("_", "."))
            and os.path.isfile(os.path.join(self.segments_path, n))}
        if not candidates:
            return []
        # the LIVE file set: files holding at least one row whose
        # (run_id, attempt_id) the manifest committed. Everything else
        # — torn attempts AND the zero-row part files Spark appends
        # write (which carry no rows and thus serve no read) — is
        # garbage. One column-pruned scan of (run_id, attempt_id).
        live_files: set = set()
        m = self.manifest(spark)
        if m is not None:
            segs = backend.read_segments(spark)
            att = (F.coalesce("attempt_id", F.lit(""))
                   if "attempt_id" in segs.columns else F.lit(""))
            per_file = (segs.withColumn("__file", F.input_file_name())
                        .select("__file", "run_id",
                                att.alias("attempt_id")).distinct())
            matt = (F.coalesce("attempt_id", F.lit(""))
                    if "attempt_id" in m.columns else F.lit(""))
            committed = (m.select("run_id", matt.alias("attempt_id"))
                         .distinct())
            live_files = {
                os.path.abspath(unquote(urlparse(r["__file"]).path))
                for r in
                (per_file.join(committed,
                               on=["run_id", "attempt_id"],
                               how="leftsemi")
                 .select("__file").distinct().collect())}
        # safety invariant: a healthy store's live files are a subset
        # of the directory listing. Zero overlap means either nothing
        # is live (an all-debris store — deleting everything would
        # leave an empty dir that breaks read_segments) or a path
        # normalization mismatch (deleting "orphans" would destroy
        # live data). Either way: touch nothing.
        if not (live_files & candidates):
            return []
        removed = []
        for path in sorted(candidates - live_files):
            try:
                os.remove(path)
                removed.append(path)
            except FileNotFoundError:
                pass
        return removed
