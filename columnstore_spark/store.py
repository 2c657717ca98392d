"""TranscriptColumnStore — the reference's ``IColumnStore<TRow>``
surface (`/root/reference/Outcompute.ColumnStore.Abstractions/IColumnStore.cs:6-34`,
impl `ColumnStore.cs:6-100`) over the distributed warehouse.

Method mapping (reference -> here):

    Add / AddRange      -> add_range(df)        delta append (I1/I2)
    Close               -> close()              compact pending delta
                                                batches to solid (I3+I5)
    GetEnumerator       -> rows()               solid then delta
                                                (`ColumnStore.cs:76-87`)
    Rebuild             -> rebuild()            re-encode everything as
                                                a fresh generation (I6)
    Stats               -> stats()              stats tree rollup
                                                (T1-T4, lazy via the
                                                manifest)
    QueryByValue/Range  -> query_by_value(),    segment probes behind
                           query_by_window()    manifest pruning (S3/S4)

The delta store is a directory of raw parquet batch appends; ``close``
compacts every pending batch through ``Warehouse.encode_resumable``
(manifest commit protocol, so a crashed compact resumes); rowgroup ids
are namespaced per batch exactly like the streaming ingest. All state
lives in storage — two TranscriptColumnStore objects opened on the
same root see the same store.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codecs import chooser
from .operators import (
    decode,
    decode_matching_contains,
    decode_matching_range,
    decode_window,
)
from .operators.decode import decode_matching_pred, decode_with_rowgroup
from .plans.predicates import (
    _dedup_probes,
    _exact_pred_cond,
    _kernel_safe_pred,
    _kernel_safe_probe,
    _naive_utc,
    _norm_one_pred,
)
from .plans.pruning import _with_typed_bounds
from .sources.snapshot import ManifestSnapshot
from .sources.warehouse import Warehouse, in_rowgroups

_BATCH_SHIFT = 40  # rowgroup namespace per delta batch (as streaming)


def _inner_columns(columns: list[str] | None,
                   *probe_cols: str) -> list[str] | None:
    """Projection the decode operator must carry so the facade's exact
    trailing predicate can still evaluate: the user's `columns` plus
    every probe column (deduped, order-stable). The facade selects the
    user's list back out after filtering, so probe columns the user
    didn't ask for never appear in the result — but their payloads are
    the ONLY extra bytes read (encoded-level projection everywhere
    else)."""
    if columns is None:
        return None
    return list(dict.fromkeys([*columns, *probe_cols]))


def _norm_preds(items) -> list[tuple]:
    """(column, probe) pairs -> normalized (column, kind, payload)."""
    return [_norm_one_pred(c, p, "")[:3] for c, p in items]


def _prefix_upper(prefix: str) -> str | None:
    """Smallest ASCII string upper-bounding every string that starts
    with `prefix`: trailing 0x7F chars drop, the last remaining char
    increments. Any s carrying the prefix compares < the result in
    BOTH UTF-8 byte order and UTF-16 order — the comparison resolves
    at the incremented position, which is ASCII on both sides. None
    when no finite bound exists (empty or all-DEL prefix)."""
    b = bytearray(prefix.encode("ascii"))
    while b and b[-1] >= 0x7F:
        b.pop()
    if not b:
        return None
    b[-1] += 1
    return b.decode("ascii")


class TranscriptColumnStore:
    """The reference's `IColumnStore` surface over the warehouse
    (`IColumnStore.cs:6-34`, `ColumnStore.cs:6-100`).

    Read contract: `rows()` enumerates the WHOLE store — solid
    rowgroups then pending delta batches, every row exactly once, the
    reference's enumerator order. Everything that answers from the
    encoded form or its manifest (`stats`, `aggregate`, `group_count`,
    `group_agg`, `query_by_*`, `query_where`) covers the COMMITTED
    store only: pending deltas hold raw un-encoded rows, so there is
    no segment to probe until `close()` folds them. Call `close()`
    first when queries must see just-added data — or pass
    `include_pending=True` to any `query_by_*`/`query_where`: the
    solid side still answers from the encoded form, and the pending
    batches (small, recent, raw parquet) are filtered with the same
    Spark predicate and unioned in — the reference enumerating delta
    rowgroups alongside solid ones, applied to queries."""

    def __init__(self, spark: SparkSession, root: str,
                 num_rowgroups: int = 8,
                 rows_per_segment: int = 1_000_000,
                 mode: str = chooser.MODE_SIZE,
                 format: str = "auto",
                 bloom_columns: tuple[str, ...] = ("conv_id",),
                 generation: int | None = None,
                 cluster_by: tuple[str, ...] = (),
                 cluster_bits: int = 16,
                 cluster_bounds: dict | None = None,
                 cluster_split: int = 1):
        self.spark = spark
        self.root = root.rstrip("/")
        self.num_rowgroups = num_rowgroups
        self.rows_per_segment = rows_per_segment
        self.mode = mode
        # per-segment Bloom filters on these columns (codecs/bloom.py):
        # point probes on the store's high-cardinality key prune
        # rowgroups min/max bounds can't separate. conv_id by default —
        # "fetch one conversation" is the store's primary point lookup.
        # Names absent from an ingested frame are simply never built.
        self.bloom_columns = tuple(bloom_columns)
        # Z-order clustering (operators/zorder.py): close()/rebuild()
        # assign rowgroups along a Morton curve over these columns, so
        # conjunctive range probes (query_where) prune to the few grid
        # cells the box touches (BENCH.md §6). Layout-only — every
        # query stays correct with or without it. `cluster_bounds`
        # (col -> (lo, hi) in the double axis domain, timestamps in
        # epoch micros) pins one grid across all ingest batches — the
        # production setting; when None each encode derives bounds
        # from its own batch (one extra min/max aggregate).
        self.cluster_by = tuple(cluster_by)
        self.cluster_bits = int(cluster_bits)
        self.cluster_bounds = dict(cluster_bounds) if cluster_bounds else None
        # capacity guard for dense grid cells: each cell splits into
        # this many sub-rowgroups by conv_id hash (bounds stay per-cell
        # tight, so pruning selectivity is unchanged)
        self.cluster_split = int(cluster_split)
        # config errors surface HERE, not at close()-time deep inside
        # encode after data is already staged
        if self.cluster_by:
            if self.cluster_bits * len(self.cluster_by) > 63:
                raise ValueError(
                    f"cluster_bits={self.cluster_bits} x "
                    f"{len(self.cluster_by)} dims exceeds 63 curve bits "
                    f"(use cluster_bits<="
                    f"{63 // len(self.cluster_by)})")
            if self.cluster_bounds is not None and \
                    set(self.cluster_bounds) != set(self.cluster_by):
                raise ValueError(
                    "cluster_bounds keys must match cluster_by exactly "
                    f"(bounds {sorted(self.cluster_bounds)} vs "
                    f"cluster_by {sorted(self.cluster_by)})")
            if self.cluster_split < 1:
                raise ValueError("cluster_split must be >= 1")
        self._format = format
        # `generation` pins a historical generation (time travel — the
        # Iceberg snapshot-read analogue over our generation dirs),
        # read-only. A generation is immutable once SUPERSEDED (the
        # live store only ever writes into its latest generation), so
        # a pinned superseded generation is a stable snapshot; pinning
        # the latest one is just the live solid view. Only generations
        # vacuum() hasn't reclaimed are addressable.
        self._pinned = generation is not None
        if self._pinned:
            if not os.path.isdir(f"{self.root}/gen_{generation:04d}") \
                    or os.path.exists(
                        f"{self.root}/gen_{generation:04d}/_STAGING"):
                raise ValueError(
                    f"generation {generation} not present at {self.root} "
                    "(never created, vacuumed away, or mid-rebuild)")
            self._generation = int(generation)
        else:
            self._generation = self._latest_generation()
        self.warehouse = Warehouse(self._gen_root(), format=format)
        if not self._pinned:
            # a pinned open is contractually read-only — it must work
            # against a read-only mount, so no mkdir on its path
            os.makedirs(self._delta_root(), exist_ok=True)

    # -- layout --------------------------------------------------------------

    def _gen_root(self) -> str:
        return f"{self.root}/gen_{self._generation:04d}"

    def _delta_root(self) -> str:
        return f"{self.root}/delta"

    def _latest_generation(self) -> int:
        try:
            gens = [int(d.split("_")[1]) for d in os.listdir(self.root)
                    if d.startswith("gen_")
                    # an in-place rebuild (non-relocatable backend)
                    # marks the dir _STAGING until its single-file
                    # commit point; a crashed one must stay invisible
                    and not os.path.exists(
                        f"{self.root}/{d}/_STAGING")]
            return max(gens) if gens else 0
        except FileNotFoundError:
            return 0

    def _batches(self) -> list[str]:
        root = self._delta_root()
        return sorted(d for d in os.listdir(root) if d.startswith("batch_"))

    def _retired_batches(self) -> set[str]:
        """Delta batches folded into this generation by a rebuild."""
        try:
            with open(f"{self._gen_root()}/retired_batches.txt") as f:
                return set(f.read().split())
        except FileNotFoundError:
            return set()

    def _batch_rows(self, name: str) -> int:
        """Row count of one delta batch from parquet FOOTERS (driver-
        side metadata read, no Spark job)."""
        import glob as _glob

        import pyarrow.parquet as pq

        d = _glob.escape(f"{self._delta_root()}/{name}")
        return sum(pq.read_metadata(p).num_rows
                   for p in _glob.glob(f"{d}/*.parquet"))

    def _retire_batches(self, names: list[str]) -> None:
        """Merge `names` into retired_batches.txt (atomic rewrite —
        the file is small; a crash leaves either version, both safe:
        an unretired empty batch is just retried on the next close)."""
        merged = sorted(self._retired_batches() | set(names))
        os.makedirs(self._gen_root(), exist_ok=True)
        tmp = f"{self._gen_root()}/.retired_batches.tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(merged))
        os.replace(tmp, f"{self._gen_root()}/retired_batches.txt")

    def _pending_batches(self) -> list[str]:
        # a pinned (time-travel) store never sees pending deltas: they
        # postdate its snapshot. Guarded HERE so every consumer —
        # rows(), include_pending queries, semi_join's pending union —
        # inherits the isolation, not just rows()
        if self._pinned:
            return []
        snap = self.warehouse.snapshot(self.spark)
        done = set() if snap is None else set(snap.run_ids)
        done |= self._retired_batches()
        return [b for b in self._batches() if b not in done]

    # -- ingest (I1/I2/I3/I5) ------------------------------------------------

    def _writable(self) -> None:
        if self._pinned:
            raise ValueError(
                "store is pinned to a historical generation "
                f"(gen_{self._generation:04d}) — time-travel reads are "
                "read-only; open the store without `generation` to write")

    def add_range(self, df: DataFrame) -> int:
        """Append a batch of rows to the delta store (reference
        `AddRange`: one version bump per batch).

        The next index counts RETIRED names too, not just directories
        on disk: after vacuum() deletes a folded batch dir, reusing its
        name would make the new rows look already-folded to
        `_pending_batches` — appended data silently never compacted.

        An empty frame is a NO-OP returning -1: an on-disk zero-row
        batch could never be retired by close() (encode commits no
        manifest rows for it), leaving it pending forever and blocking
        every mutation behind _require_closed.

        The frame's columns must be a subset of the store schema with
        matching types — silent widening would bypass the schema log
        that every evolution-coverage guard keys on (add_column is the
        sanctioned path)."""
        self._writable()
        eff = self.schema()
        if eff.fields:
            def norm(dt: T.DataType) -> T.DataType:
                # the session pins UTC, so NTZ and UTC-adjusted
                # timestamps encode identically — not drift
                return (T.TimestampType()
                        if isinstance(dt, T.TimestampNTZType) else dt)

            # physical-but-dropped columns stay accepted (legacy feeds
            # keep shipping them while a drop is pending; reads project
            # them away) — only NEVER-DECLARED columns are drift
            types = {f.name: norm(f.dataType)
                     for f in self._physical_fields()}
            types.update((f.name, norm(f.dataType)) for f in eff.fields)
            extra = sorted(set(df.columns) - set(types))
            if extra:
                raise ValueError(
                    f"add_range: column(s) {extra} not in the store "
                    "schema — add_column() them first")
            mism = sorted(
                f"{c}: {df.schema[c].dataType.simpleString()} != "
                f"{types[c].simpleString()}"
                for c in df.columns
                if norm(df.schema[c].dataType) != types[c])
            if mism:
                raise ValueError(f"add_range: type mismatch {mism}")
        taken = {int(b.split("_")[1])
                 for b in set(self._batches()) | self._retired_batches()
                 if b.startswith("batch_")}
        idx = max(taken) + 1 if taken else 0
        path = f"{self._delta_root()}/batch_{idx:06d}"
        df.write.mode("errorifexists").parquet(path)
        if self._batch_rows(f"batch_{idx:06d}") == 0:
            shutil.rmtree(path, ignore_errors=True)
            return -1
        return idx

    def close(self) -> int:
        """Compact every pending delta batch to solid segments
        (`Close` + the intended `TryCompact`); returns the number of
        batches compacted. Idempotent and crash-resumable (manifest)."""
        self._writable()
        compacted = 0
        for name in self._pending_batches():
            batch_idx = int(name.split("_")[1])
            if self._batch_rows(name) == 0:
                # a zero-row batch (legacy stores; add_range now blocks
                # them) commits no manifest rows, so encode alone would
                # leave it pending FOREVER — retire it explicitly
                self._retire_batches([name])
                compacted += 1
                continue
            df = self._read_batches([name], merge=False)
            rg_expr, order = self._cluster_exprs(df)
            self.warehouse.encode_resumable(
                df, num_rowgroups=self.num_rowgroups,
                rows_per_segment=self.rows_per_segment, mode=self.mode,
                run_id=name,
                rowgroup_offset=batch_idx << _BATCH_SHIFT,
                bloom_columns=self.bloom_columns,
                rowgroup_expr=rg_expr, order=order)
            compacted += 1
        return compacted

    def _cluster_exprs(self, df: DataFrame, num_rowgroups: int | None = None,
                       manifest_bounds: bool = False):
        """(rowgroup_expr, order) for `cluster_by` Z-order layout, or
        (None, None) -> default conv-hash layout. Falls back to the
        default when a cluster column is missing from the frame (a
        post-drop_column ingest batch under schema evolution).

        `manifest_bounds=True` (rebuild) tries the metadata-only
        bounds rollup first — `df` there is the full decoded store, so
        a compute_bounds pass would double rebuild's read volume."""
        if not self.cluster_by or any(c not in df.columns
                                      for c in self.cluster_by):
            return None, None
        from .operators.zorder import compute_bounds, zorder_layout
        bounds = self.cluster_bounds
        if bounds is None and manifest_bounds:
            bounds = self._bounds_from_manifest(self.cluster_by)
        if bounds is None:
            bounds = compute_bounds(df, self.cluster_by)
        # dimension order on the curve = dict order: make cluster_by
        # authoritative regardless of how the bounds dict was written
        bounds = {c: bounds[c] for c in self.cluster_by}
        salt = (F.xxhash64("conv_id") if self.cluster_split > 1
                and "conv_id" in df.columns else None)
        return zorder_layout(df, bounds,
                             num_rowgroups or self.num_rowgroups,
                             self.cluster_bits,
                             cell_split=self.cluster_split, salt=salt)

    # logicals whose manifest min_num/max_num already sit in the zorder
    # axis domain (timestamp_us micros == unix_micros, date32 days ==
    # unix_date, ints/bool verbatim). Decimals are EXCLUDED: min_num is
    # the unscaled integer but the axis is the scaled value.
    _AXIS_NUM_LOGICALS = frozenset({
        "int8", "int16", "int32", "int64", "uint8", "uint16", "uint32",
        "bool", "timestamp_us", "date32"})

    def _bounds_from_manifest(self, cols) -> dict | None:
        """Global per-column bounds for the rebuild grid from the
        manifest's typed stats alone — no data pass. None when any
        column lacks sound axis-domain bounds (then the caller falls
        back to compute_bounds over the rows). Pending delta rows are
        not in the manifest; their values clamp to edge cells
        (layout-only, never a correctness hazard)."""
        m = self.warehouse.live_manifest(self.spark)
        if m is None:
            return None
        rows = (m.where(F.col("column").isin(list(cols)))
                .groupBy("column")
                .agg(F.first("logical_type").alias("lt"),
                     F.min("min_num").alias("lo_n"),
                     F.max("max_num").alias("hi_n"),
                     F.min("min_flt").alias("lo_f"),
                     F.max("max_flt").alias("hi_f"),
                     F.sum(F.when(F.col("min_num").isNull()
                                  & F.col("min_flt").isNull(), 1)
                           .otherwise(0)).alias("untyped"))
                .collect())
        got = {}
        for r in rows:
            if r["untyped"]:
                return None  # some segment carries no typed bounds
            if r["lt"] in self._AXIS_NUM_LOGICALS and \
                    r["lo_n"] is not None:
                got[r["column"]] = (float(r["lo_n"]), float(r["hi_n"]))
            elif r["lt"] in ("float32", "float64") and \
                    r["lo_f"] is not None:
                got[r["column"]] = (float(r["lo_f"]), float(r["hi_f"]))
            else:
                return None
        return got if set(got) == set(cols) else None

    def compact(self, min_fill: float = 0.5) -> dict:
        """Merge under-capacity solid rowgroups into capacity-sized
        ones (`Warehouse.compact` — the Iceberg rewrite_data_files
        analogue). Streaming ingest and small `close()` batches
        accrete under-filled rowgroups whose per-segment dictionaries
        cost real compression (BENCH.md §2a); compaction reclaims that
        ratio without a full `rebuild()`. Atomic: replacement segments
        and per-rowgroup 'retired' tombstones land in one manifest
        commit. Returns {rowgroups_retired, rowgroups_encoded, ...};
        a no-op (fewer than 2 under-filled rowgroups) returns zeros."""
        self._writable()
        return self.warehouse.compact(
            self.spark, min_fill=min_fill,
            rows_per_segment=self.rows_per_segment, mode=self.mode,
            bloom_columns=self.bloom_columns)

    def delete_where(self, column: str, probe) -> dict:
        """Row-level delete — the "remove this conversation" op a
        transcript warehouse needs (GDPR-class erasure). Probe shapes
        match `query_by_value`/`query_where`: scalar equality,
        ``(lo, hi)`` inclusive range, list/set IN, ``None`` IS NULL.

        Candidate rowgroups come from MANIFEST pruning (typed bounds +
        Bloom) and are decoded through the pinned read; matching rows
        drop (NULLs in the probe column never match an equality/range/
        IN probe — SQL semantics). Only the candidates that hold a
        match are rewritten: their survivors re-encode through the
        shared rewrite path (`_rewrite` -> `Warehouse.replace_rowgroups`),
        whose one manifest append commits the replacements and the
        per-rowgroup 'retired' tombstones atomically, and which raises
        RuntimeError, committing nothing, if a victim stopped being
        live since the scan. Run id `delete-<hex>`. Requires a fully
        closed store (pending delta batches hold raw rows the rewrite
        would not see)."""
        import uuid as _uuid

        self._writable()
        self._require_closed("delete_where")
        m = self._manifest_or_raise()
        if self._schema_log():
            # under evolution an IS NULL delete would miss the
            # rowgroups that predate the add (all-null there), and an
            # unphysical column has nothing to rewrite; rebuild first
            self._guard_materialized(m, [column], "delete_where")
        lt = self._logical_type(m, column)
        if lt is None:
            raise ValueError(f"unknown column {column!r}")
        pred = _norm_one_pred(column, probe, lt)
        if pred[1] == "in" and not pred[2]:
            return {"rows_deleted": 0, "rowgroups_rewritten": 0,
                    "rowgroups_retired": 0}
        cand = self.warehouse.pinned_read(self.spark, m, m.keep_ids(*pred))
        # schema from the MANIFEST: a fully-pruned candidate set has
        # no segment to infer it from
        decoded = decode_with_rowgroup(cand, schema=m.decode_schema)
        cond = _exact_pred_cond([pred], any_mode=False)
        # coalesce(cond, False): an eq/range/IN probe is NULL on a
        # NULL column value — those rows SURVIVE, `~cond` alone would
        # silently delete them
        n_del, _, out = self._rewrite(
            m, decoded, decoded.where(cond),
            decoded.where(~F.coalesce(cond, F.lit(False))),
            run_id=f"delete-{_uuid.uuid4().hex[:8]}")
        return {"rows_deleted": n_del, **out}

    def explain_prune(self, column: str, probe) -> DataFrame:
        """EXPLAIN for the manifest pruner: one metadata row per
        rowgroup showing whether a `query_by_value` (scalar probe) or
        `query_by_range` ((lo, hi) tuple) would decode it, with the
        sub-test verdicts (bounds / Bloom) and a reason. Reads only
        the manifest — usable at any store size to answer "why is this
        query touching N rowgroups?"."""
        from .plans.pruning import explain_prune as _explain
        m = self._manifest_or_raise()
        lt = self._logical_type(m, column)
        if lt is None:
            raise ValueError(f"unknown column {column!r}")
        if isinstance(probe, tuple) and len(probe) == 2:
            lo, hi, eq = _naive_utc(probe[0]), _naive_utc(probe[1]), False
        else:
            lo = hi = _naive_utc(probe)
            eq = True
        return _explain(m.frame(self.spark), column, lo, hi, eq,
                        logical_type=lt)

    def explain_where(self, predicates: dict[str, object]) -> DataFrame:
        """EXPLAIN for a `query_where` conjunction: one metadata row
        per rowgroup with each predicate's keep verdict (NULL when
        that column/probe is unprunable in manifest form — the
        conjunction then keeps the rowgroup conservatively on that
        predicate's account) and the combined ``kept``. Built on the
        SAME snapshot keep-sets `query_where` intersects, so the
        table shows exactly what the query will decode. Metadata-only
        at any store size — the answer to "why does this conjunction
        touch N rowgroups?"."""
        if not predicates:
            raise ValueError("explain_where needs at least one predicate")
        return self._truth_table(list(predicates.items()),
                                 [f"keep_{c}" for c in predicates],
                                 any_mode=False)

    def explain_any(self, predicates) -> DataFrame:
        """EXPLAIN for a `query_any` disjunction: per-branch keep
        verdicts plus the combined ``kept`` (the keep-set UNION —
        a rowgroup decodes when ANY branch admits it). One unprunable
        branch (NULL verdict) makes every rowgroup kept — under OR
        that branch alone could match anywhere, exactly the
        conservative no-op `query_any` takes. Accepts the same probe
        shapes as `query_any` (dict, or (column, probe) pairs for
        several probes on one column)."""
        items = (list(predicates.items())
                 if isinstance(predicates, dict) else list(predicates))
        if not items:
            raise ValueError("explain_any needs at least one predicate")
        labels: list[str] = []
        for c, _p in items:
            lbl = f"keep_{c}"
            while lbl in labels:
                lbl += "_"
            labels.append(lbl)
        return self._truth_table(items, labels, any_mode=True)

    def _truth_table(self, items, labels, any_mode: bool) -> DataFrame:
        """explain_where / explain_any: one row per rowgroup with each
        predicate's verdict from the snapshot keep-sets the queries
        use (NULL = unprunable) and the combined ``kept``. Under
        pending schema evolution on a probed column the query decodes
        everything through the fallback, so the honest table is "all
        kept, nothing prunable"."""
        m = self._manifest_or_raise()
        base = (m.frame(self.spark).select("rowgroup_id", "n_rows")
                .distinct().orderBy("rowgroup_id"))
        null_b = F.lit(None).cast("boolean")
        cols = [c for c, _p in items]
        if self._needs_fallback(m, *cols):
            return base.select(
                "rowgroup_id", "n_rows",
                *[null_b.alias(lbl) for lbl in labels],
                F.lit(True).alias("kept"))
        lts = self._logical_types(m, cols)
        verdicts, kept, unprunable = [], F.lit(not any_mode), False
        for (c, p), lbl in zip(items, labels):
            if c not in lts:
                raise ValueError(f"unknown column {c!r}")
            s = m.keep_ids(*_norm_one_pred(c, p, lts[c]))
            if s is None:
                unprunable, v = True, null_b
            else:
                v = F.col("rowgroup_id").isin(s) if s else F.lit(False)
                kept = (kept | v) if any_mode else (kept & v)
            verdicts.append(v.alias(lbl))
        if any_mode and unprunable:
            kept = F.lit(True)
        return base.select("rowgroup_id", "n_rows", *verdicts,
                           kept.alias("kept"))

    def delete_keys(self, keys: DataFrame, on: str = "conv_id",
                    key_col: str | None = None) -> dict:
        """Distributed row-level delete by key set — the erasure
        complement of `semi_join`: `keys` is a DataFrame that never
        transits the driver ("erase every conversation of these
        customers" where the customer side is itself a big table).
        Candidate rowgroups come from the same manifest-bounds-broadcast
        + Bloom prune as `semi_join`; they decode and the survivors
        (left_anti vs the distinct keys — SQL IN semantics, null keys
        never match so null rows survive) of the candidates that hold
        a key rewrite through the same path and ONE tombstone+replace
        manifest commit as `delete_where` (`_rewrite`). Only rowgroup
        ids reach the driver."""
        self._writable()
        self._require_closed("delete_keys")
        kc = key_col or on
        # every raising guard runs BEFORE `_rewrite` persists anything
        # — a guard raise must not leak cached frames for the session
        # lifetime
        m = self._manifest_or_raise()
        if self._schema_log():
            self._guard_materialized(m, [on], "delete_keys")
        lt = self._logical_type(m, on)
        if lt is None:
            raise ValueError(f"unknown column {on!r}")
        keys = (keys.select(F.col(kc).alias(on))
                .where(F.col(on).isNotNull()).distinct())
        decoded = self._key_candidates(m, on, keys, lt)
        n_del, _, out = self._rewrite(
            m, decoded, decoded.join(keys, on=on, how="leftsemi"),
            decoded.join(keys, on=on, how="left_anti"), held=(keys,))
        return {"rows_deleted": n_del, **out}

    def upsert(self, df: DataFrame, key: str = "conv_id") -> dict:
        """MERGE at key granularity, ATOMIC in one manifest commit:
        every row whose `key` appears in `df` is replaced by `df`'s
        rows for that key; keys absent from the store are inserted.
        Unlike delete-then-append, there is no window where the old
        rows are gone and the new ones not yet visible — the victim
        rowgroups' survivors UNION the incoming rows re-encode through
        the deletes' rewrite path (`_rewrite`) and its single
        tombstone+replace commit (`replace_rowgroups`), so a crash at
        any point leaves either the old state or the fully merged one.
        Requires a fully closed store."""
        self._writable()
        self._require_closed("upsert")
        # raising guards run BEFORE any persist (a guard raise must not
        # leak cached frames); schema comes off the manifest metadata
        m = self._manifest_or_raise()
        if self._schema_log():
            # the incoming frame must carry every physical column of
            # the store (select below) and victim rewrite must not
            # lose evolved columns; materialize the schema first
            self._guard_materialized(m, [key], "upsert")
        lt = self._logical_type(m, key)
        if lt is None:
            raise ValueError(f"unknown column {key!r}")
        schema = m.decode_schema
        if self._schema_log():
            # a dropped-but-still-physical column stays in the rewrite
            # schema until rebuild(); incoming frames naturally omit
            # it — null-fill so the merge union lines up
            eff_names = {f.name for f in self.schema().fields}
            phys_names = {f.name for f in schema.fields}
            # incoming values for an evolved-but-unphysical column
            # would be SILENTLY dropped by the physical projection
            # below — refuse rather than lose data
            unmat = sorted((set(df.columns) & eff_names) - phys_names)
            if unmat:
                raise ValueError(
                    f"upsert: incoming frame carries column(s) {unmat} "
                    "that are not materialized in the store — run "
                    "rebuild() first")
            # the mirror case: values for a DROPPED-but-still-physical
            # column would be written into the invisible column —
            # unreachable by any read, discarded by rebuild(). Refuse
            # rather than silently bury data.
            buried = sorted((set(df.columns) & phys_names) - eff_names)
            if buried:
                raise ValueError(
                    f"upsert: incoming frame carries dropped column(s) "
                    f"{buried} — their values would be unreachable; "
                    "remove them from the frame")
            for f in schema.fields:
                if f.name not in eff_names and f.name not in df.columns:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        proj = [f.name for f in schema.fields]
        missing = sorted(set(proj) - set(df.columns))
        if missing:
            raise ValueError(
                f"upsert: incoming frame lacks physical column(s) "
                f"{missing}")
        keys = (df.select(F.col(key).alias(key))
                .where(F.col(key).isNotNull()).distinct())
        decoded = self._key_candidates(m, key, keys, lt)
        # `incoming` is persisted by the rewrite: counted once and
        # consumed again by the replace encode — an unpersisted
        # nondeterministic source (df.limit, sampling) could otherwise
        # write different rows than it counted
        n_replaced, n_ins, out = self._rewrite(
            m, decoded, decoded.join(keys, on=key, how="leftsemi"),
            decoded.join(keys, on=key, how="left_anti"),
            incoming=df.select(proj), held=(keys,))
        return {"rows_replaced": n_replaced, "rows_written": n_ins, **out}

    def _key_candidates(self, m: ManifestSnapshot, on: str,
                        keys: DataFrame, lt: str) -> DataFrame:
        """The committed rows of the rowgroups some key in `keys` can
        inhabit (manifest bounds + Bloom, `semi_join_segments`),
        decoded with their source rowgroup id `__rg`."""
        from .operators.semijoin import semi_join_segments
        segs = self.warehouse.committed_segments(self.spark, m)
        cand = semi_join_segments(segs, m.frame(self.spark), on, keys, lt)
        return decode_with_rowgroup(cand, schema=m.decode_schema)

    def _rewrite(self, m: ManifestSnapshot, decoded: DataFrame,
                 matched: DataFrame, rest: DataFrame,
                 incoming: DataFrame | None = None,
                 held: tuple[DataFrame, ...] = (),
                 run_id: str | None = None) -> tuple[int, int, dict]:
        """The one tombstone+replace path behind delete_where,
        delete_keys and upsert. `decoded` holds the candidate rows of
        snapshot `m` with their source rowgroup id `__rg`; `matched`
        and `rest` split it into the rows the mutation removes and
        keeps. One `groupBy("__rg").count()` collect gives the victims
        (the candidates that ACTUALLY hold a match: a bounds/Bloom
        false positive is never rewritten, which would double its
        stored bytes until rebuild()) and the match count; only those
        ids reach the driver. The victims' `rest` rows, plus
        `incoming` (upsert), commit through `replace_rowgroups`.

        `held` (frames `decoded` is built from, e.g. a key set),
        `decoded` and `incoming` are persisted here, in that order,
        before any job runs (`matched`/`rest` are lazy over them), and
        released in one finally; raising guards belong in the caller.
        Returns (rows matched, rows incoming, {rowgroups_rewritten,
        rowgroups_retired}), all zero with no commit when nothing
        matches and nothing comes in."""
        frames = [f.persist() for f in (*held, decoded, incoming)
                  if f is not None]
        try:
            counts = dict(matched.groupBy("__rg").count().collect())
            n_in = 0 if incoming is None else incoming.count()
            if not counts and not n_in:
                return 0, 0, {"rowgroups_rewritten": 0,
                              "rowgroups_retired": 0}
            ids = sorted(counts)
            rows = in_rowgroups(rest, ids).drop("__rg")
            if incoming is not None:
                rows = rows.unionByName(incoming)
            out = self.warehouse.replace_rowgroups(
                self.spark, ids, rows,
                victim_rows=sum(m.rowgroup_rows[i] for i in ids) + n_in,
                rows_per_segment=self.rows_per_segment, mode=self.mode,
                run_id=run_id, bloom_columns=self.bloom_columns)
        finally:
            for f in frames:
                f.unpersist()
        return (sum(counts.values()), n_in,
                {"rowgroups_rewritten": out["rowgroups_encoded"],
                 "rowgroups_retired": out["rowgroups_retired"]})

    def _require_closed(self, op: str) -> None:
        if self._pending_batches():
            raise ValueError(
                f"{op} requires a fully closed store — call close() "
                "first (pending delta batches hold raw rows this "
                "rewrite would not see)")

    # -- read (GetEnumerator) ------------------------------------------------

    def solid_rows(self, columns: list[str] | None = None) -> DataFrame:
        m = self._manifest_or_raise()
        segs = self.warehouse.pinned_read(self.spark, m)
        if not self._schema_log():
            return decode(segs, schema=m.decode_schema, columns=columns)
        # schema evolution active: decode under the EFFECTIVE schema —
        # adds null-fill, drops project away. The physical decode set
        # must keep one FULLY-covered anchor column so rowgroups that
        # predate every requested add still contribute their (all-null)
        # rows with the right multiplicity.
        eff = self.schema()
        eff_names = [f.name for f in eff.fields]
        want = list(columns) if columns is not None else eff_names
        unknown = sorted(set(want) - set(eff_names))
        if unknown:
            raise ValueError(f"unknown column(s) {unknown}; "
                             f"store schema: {sorted(eff_names)}")
        cov, total = m.coverage
        phys_want = [c for c in want if c in cov]
        dec_cols = list(phys_want)
        if not phys_want or any(cov[c] < total for c in phys_want):
            anchor = next((c for c in cov if cov[c] == total), None)
            if anchor is None:  # no column spans every rowgroup
                dec_cols = sorted(cov)
            elif anchor not in dec_cols:
                dec_cols.append(anchor)
        out = decode(segs, schema=m.decode_schema, columns=dec_cols)
        eff_types = {f.name: f.dataType for f in eff.fields}
        for c in want:
            if c not in cov:
                out = out.withColumn(c, F.lit(None).cast(eff_types[c]))
        return out.select(*want)

    def rows(self, columns: list[str] | None = None) -> DataFrame:
        """Every row exactly once: solid row groups decoded from the
        warehouse, then delta batches not yet compacted — the
        reference's enumeration order (`ColumnStore.cs:76-87`).
        `columns` projects the solid side at the ENCODED level (only
        the named columns' segments are read) and the delta side at
        the parquet scan. A solid side within the decode stage's
        driver budget is read and decoded by this call, not when the
        frame is forced (`operators/decode._rowgroup_stage`)."""
        # _pending_batches is empty on a pinned (time-travel) store:
        # delta batches on disk postdate the snapshot
        pending = self._pending_batches()
        evolved = bool(self._schema_log())
        delta = None
        if pending:
            delta = self._read_pending(pending)
            if evolved:
                want = (list(columns) if columns is not None
                        else [f.name for f in self.schema().fields])
                delta = self._align_delta(delta, want)
            elif columns is not None:
                delta = delta.select(*columns)
        if self.warehouse.snapshot(self.spark) is None:
            if delta is None:
                raise ValueError("empty store")
            return delta
        solid = self.solid_rows(columns)
        return solid if delta is None else solid.unionByName(delta)

    def _read_pending(self, pending: list[str]) -> DataFrame:
        """Pending delta batches as one frame. Under schema evolution
        batches may carry different columns (added after earlier
        appends): their schemas merge by name."""
        return self._read_batches(pending, merge=bool(self._schema_log()))

    def _read_batches(self, names: list[str], merge: bool) -> DataFrame:
        """Delta batches read with the schema their parquet footers
        record — read on the driver, so no schema-inference job
        runs."""
        paths = [f"{self._delta_root()}/{b}" for b in names]
        return (self.spark.read.schema(self._batch_schema(names, merge))
                .parquet(*paths))

    def _batch_schema(self, names: list[str], merge: bool) -> T.StructType:
        """Spark schema of delta batches from their parquet footers:
        merged by name over every file with `merge`, else the first
        file's (what Spark infers without mergeSchema)."""
        from .sources.snapshot import merged_schema, read_footer
        from .sources.storage import data_files
        files = [f for b in names
                 for f in data_files(f"{self._delta_root()}/{b}") or []]
        return merged_schema(read_footer(f).schema
                             for f in (files if merge else files[:1]))

    def _align_delta(self, delta: DataFrame, want: list[str]) -> DataFrame:
        """Project raw delta rows to the effective schema: late-added
        columns a batch predates read as typed NULLs, dropped columns
        are projected away."""
        eff_types = {f.name: f.dataType for f in self.schema().fields}
        unknown = sorted(set(want) - set(eff_types))
        if unknown:
            raise ValueError(f"unknown column(s) {unknown}; "
                             f"store schema: {sorted(eff_types)}")
        for c in want:
            if c not in delta.columns:
                delta = delta.withColumn(c, F.lit(None).cast(eff_types[c]))
        return delta.select(*want)

    # -- rebuild (I6) --------------------------------------------------------

    def rebuild(self, num_rowgroups: int | None = None) -> None:
        """Re-encode the whole store as a fresh generation
        (`Rebuild`: "re-encode entire dataset as one compressed
        group"); the old generation stays on disk for readers holding
        it, the store object switches to the new one.

        Atomicity — single commit point either way, never a committed
        generation whose folded delta batches still look pending
        (which would double-count every folded row on the next close):

        - relocatable backend (parquet): the generation is staged
          under a dot-prefixed temp dir (invisible to
          `_latest_generation`) holding BOTH the manifest commit and
          `retired_batches.txt`, then renamed into place in one
          `os.rename`.
        - non-relocatable backend (Iceberg: table metadata embeds
          absolute data-file paths that would dangle after a rename):
          the generation is written IN PLACE carrying a `_STAGING`
          marker that keeps it invisible to `_latest_generation`;
          after the manifest and `retired_batches.txt` are written,
          the single-file `os.unlink` of the marker is the commit. A
          crash at any point leaves the old state live; the stale
          staged dir is reclaimed on retry."""
        self._writable()
        all_rows = self.rows()
        folded = self._batches()
        gen = self._generation + 1
        final_root = f"{self.root}/gen_{gen:04d}"
        relocatable = getattr(
            self.warehouse.backend(self.spark), "relocatable", True)
        build_root = (f"{self.root}/.gen_{gen:04d}.tmp" if relocatable
                      else final_root)
        shutil.rmtree(build_root, ignore_errors=True)  # crashed attempt
        if not relocatable:
            os.makedirs(build_root, exist_ok=True)
            open(f"{build_root}/_STAGING", "w").close()
        if num_rowgroups is None:
            # default to capacity-sized groups, NOT the reference's
            # literal "one compressed group" (`Rebuild`,
            # ColumnStore.cs:68-74): a single rowgroup means one task
            # materializes the whole store — an OOM/straggler hazard at
            # exactly the sizes where rebuild is prescribed. Row count
            # comes from manifest metadata + delta footers (no scan).
            total = self._row_count_estimate()
            num_rowgroups = max(1, -(-total // self.rows_per_segment))
        staged = Warehouse(build_root, format=self._format)
        # rebuild may size groups from the row count — derive the grid
        # at that granularity; bounds come metadata-only from the
        # manifest when possible (all_rows is the full decoded store —
        # an extra aggregate pass over it would double rebuild's reads)
        rg_expr, order = self._cluster_exprs(all_rows, num_rowgroups,
                                             manifest_bounds=True)
        staged.encode_resumable(
            all_rows, num_rowgroups=num_rowgroups,
            rows_per_segment=self.rows_per_segment, mode=self.mode,
            run_id="rebuild", bloom_columns=self.bloom_columns,
            rowgroup_expr=rg_expr, order=order)
        # every existing delta batch is now solid in this generation;
        # written BEFORE the commit point so retirement commits
        # atomically with the generation itself
        with open(f"{build_root}/retired_batches.txt", "w") as f:
            f.write("\n".join(folded))
        if relocatable:
            os.rename(build_root, final_root)
        else:
            os.unlink(f"{build_root}/_STAGING")
        had_pending_evolution = bool(self._schema_log())
        self._generation = gen
        self.warehouse = Warehouse(final_root, format=self._format)
        if had_pending_evolution:
            # this generation physically carries every prior add/drop:
            # mark them materialized so readers stop replaying the log
            # (and stop paying its coverage checks). Earlier pinned
            # generations still replay their own lifetime's entries —
            # the marker's gen stamp keeps it invisible to them.
            self._append_schema_log({"op": "materialize"})

    def _row_count_estimate(self) -> int:
        """Store row count from METADATA alone: live-manifest n_rows
        per committed rowgroup + parquet footer counts of pending delta
        batches — never a table scan."""
        snap = self.warehouse.snapshot(self.spark)
        total = 0 if snap is None else sum(snap.rowgroup_rows.values())
        for b in self._pending_batches():
            total += self._batch_rows(b)
        return total

    def vacuum(self) -> dict[str, list[str]]:
        """Reclaim dead bytes: superseded generation directories and
        the delta batches the CURRENT generation's rebuild folded in
        (recorded in its `retired_batches.txt`, so retirement derives
        from the same atomic commit). Never touches the live
        generation, pending batches, or a `_STAGING` dir of a crashed
        in-place rebuild (invisible to `_latest_generation`; its retry
        path reclaims it). Readers holding lazily-evaluated DataFrames
        over a superseded generation must be drained first — the same
        contract as any warehouse GC (Iceberg expire_snapshots,
        Delta VACUUM)."""
        self._writable()
        removed: dict[str, list[str]] = {"generations": [], "batches": []}
        for d in sorted(os.listdir(self.root)):
            # numeric compare: gen_9999 < gen_10000 lexicographically fails
            if (d.startswith("gen_")
                    and int(d.split("_")[1]) < self._generation
                    and not os.path.exists(f"{self.root}/{d}/_STAGING")):
                shutil.rmtree(f"{self.root}/{d}")
                removed["generations"].append(d)
        for b in sorted(self._retired_batches() & set(self._batches())):
            shutil.rmtree(f"{self._delta_root()}/{b}")
            removed["batches"].append(b)
        # segment part files from attempts that crashed before their
        # manifest commit: invisible to reads, pure scan overhead
        removed["segment_files"] = (
            self.warehouse.vacuum_orphan_segments(self.spark))
        return removed

    # -- schema evolution (metadata-only, the Iceberg analogue) ---------------

    def _schema_log_path(self) -> str:
        return f"{self.root}/schema_log.jsonl"

    def _schema_log(self) -> list[dict]:
        """Ordered add/drop entries still PENDING for this reader. A
        pinned (time-travel) store replays only entries recorded while
        its generation or an earlier one was live — the schema as of
        the snapshot. Entries at or before the last `materialize`
        marker this reader can see (appended by rebuild(), whose new
        generation physically carries every prior add/drop) are baked
        in and skipped — so a fully rebuilt store replays NOTHING and
        every evolution branch on the hot read paths short-circuits."""
        try:
            st = os.stat(self._schema_log_path())
        except FileNotFoundError:
            return []
        # memoized on the file's stat: a single evolved query path
        # consults the log several times (schema, fallback checks,
        # alignment) — one driver-side parse per log change, not per
        # call
        tok = (st.st_mtime_ns, st.st_size, self._generation)
        hit = getattr(self, "_log_memo", None)
        if hit is not None and hit[0] == tok:
            return hit[1]
        with open(self._schema_log_path()) as f:
            entries = [json.loads(ln) for ln in f if ln.strip()]
        if self._pinned:
            entries = [e for e in entries
                       if e.get("gen", 0) <= self._generation]
        last = -1
        for i, e in enumerate(entries):
            if (e.get("op") == "materialize"
                    and e.get("gen", 0) <= self._generation):
                last = i
        out = [e for e in entries[last + 1:]
               if e.get("op") in ("add", "drop")]
        self._log_memo = (tok, out)
        return out

    def _append_schema_log(self, entry: dict) -> None:
        with open(self._schema_log_path(), "a") as f:
            f.write(json.dumps(dict(entry, gen=self._generation)) + "\n")

    def _physical_fields(self) -> list[T.StructField]:
        """The stored columns: the committed manifest's, else the first
        pending batch's (read off its parquet footer)."""
        m = self.warehouse.snapshot(self.spark)
        if m is not None:
            return list(m.decode_schema.fields)
        pending = self._pending_batches()
        if pending:
            return list(self._batch_schema(pending[:1], merge=False).fields)
        return []

    def schema(self) -> T.StructType:
        """Effective store schema: the physical columns (committed
        manifest, else the first pending batch) with the schema log
        replayed in order — adds append a nullable field, drops remove
        one. Empty for an empty store."""
        fields = {f.name: f for f in self._physical_fields()}
        order = list(fields)
        for e in self._schema_log():
            if e["op"] == "add":
                f = T.StructType.fromDDL(f"`{e['name']}` {e['type']}")[0]
                if e["name"] not in fields:
                    order.append(e["name"])
                fields[e["name"]] = T.StructField(f.name, f.dataType, True)
            else:
                fields.pop(e["name"], None)
                if e["name"] in order:
                    order.remove(e["name"])
        return T.StructType([fields[n] for n in order])

    def add_column(self, name: str, dtype_ddl: str) -> None:
        """METADATA-ONLY column add (Iceberg-style schema evolution):
        no rowgroup is rewritten — rowgroups encoded before the add
        read the column as NULL (`operators/decode` null-fills), new
        batches carry real values, and `rebuild()` materializes the
        column physically everywhere. The log is one appended line;
        the operation is O(1) at any store size."""
        self._writable()
        parsed = T.StructType.fromDDL(f"`{name}` {dtype_ddl}")  # validate
        if len(parsed.fields) != 1:
            raise ValueError(f"expected one field, got {dtype_ddl!r}")
        if name in {f.name for f in self.schema().fields}:
            raise ValueError(f"column {name!r} already in the store schema")
        if name in {f.name for f in self._physical_fields()}:
            # dropped but not yet rebuilt: its old segments still exist
            # and would resurface as the "new" column's values
            raise ValueError(
                f"column {name!r} is dropped but still physically "
                "present — rebuild() before re-adding the name")
        if name in self._pending_columns():
            # same hazard one commit earlier: an un-folded delta batch
            # still carries the dropped column's raw values, which
            # close() would fold into segments under the re-added name
            raise ValueError(
                f"column {name!r} still has values in pending delta "
                "batches — close() + rebuild() before re-adding it")
        self._append_schema_log({"op": "add", "name": name,
                                 "type": dtype_ddl})

    def drop_column(self, name: str) -> None:
        """METADATA-ONLY column drop: reads project the column away
        immediately; its physical segments stay until `rebuild()`
        re-encodes without them (then `vacuum()` reclaims the old
        generation). Dropping and later re-adding a name is allowed —
        the log replays in order, so the re-added column starts NULL
        everywhere (the old values stay invisible, as in Iceberg)."""
        self._writable()
        cur = [f.name for f in self.schema().fields]
        if name not in cur:
            raise ValueError(f"column {name!r} not in the store schema")
        if len(cur) == 1:
            raise ValueError("cannot drop the store's last column")
        self._append_schema_log({"op": "drop", "name": name})

    def _pending_columns(self) -> set:
        """Union of column names across pending delta batches — driver-
        side parquet footer reads only (no Spark job), used by the
        add_column re-add guard."""
        import pyarrow.dataset as pads
        names: set = set()
        for b in self._pending_batches():
            names |= set(pads.dataset(f"{self._delta_root()}/{b}",
                                      format="parquet").schema.names)
        return names

    def _needs_fallback(self, m: ManifestSnapshot, *cols: str) -> bool:
        """True when schema evolution is active and any probed column
        lacks full physical coverage. The encoded fast paths stay
        sound for equality-family probes (a rowgroup without the
        column has no manifest row, so pruning drops it and NULL never
        matches) — but IS NULL, prefix/contains type checks, and
        mixed conjunctions need the decode path, which null-fills."""
        if not self._schema_log():
            return False
        eff = {f.name for f in self.schema().fields}
        unknown = sorted(set(cols) - eff)
        if unknown:
            raise ValueError(
                f"unknown column(s) {unknown}; store schema: {sorted(eff)}")
        cov, total = m.coverage
        return any(cov.get(c, 0) < total for c in cols)

    def _fallback_query(self, cond, columns, include_pending,
                        probe_cols: tuple = ()) -> DataFrame:
        """Evolution-correct slow path: decode the committed store
        under the EFFECTIVE schema (late-added columns null-filled,
        drops projected away) and run Spark's own predicate. Used only
        while a probed column is partially covered; `rebuild()`
        restores every encoded fast path. A caller projection still
        prunes at the ENCODED level — only `columns` + the predicate's
        `probe_cols` decode, never the whole row (a wide text column
        the caller didn't ask for stays in storage even here)."""
        if columns is None:
            out = self.solid_rows().where(cond)
        else:
            inner = list(columns) + [c for c in probe_cols
                                     if c not in columns]
            out = self.solid_rows(inner).where(cond)
        return self._finish_query(out, cond, columns, include_pending)

    def _guard_materialized(self, m: ManifestSnapshot, cols,
                            op: str) -> None:
        """The encoded-domain analytics (aggregate/group/distinct/
        top-k) answer from manifest stats and dictionaries, which do
        not exist for rowgroups that predate an add_column() — their
        rows ARE null there, so the metadata answer would be wrong,
        not just slow. Unknown-beats-wrong: raise until rebuild()
        materializes the column."""
        if self._needs_fallback(m, *cols):
            raise ValueError(
                f"{op}: column(s) {sorted(cols)} are not materialized in "
                "every rowgroup (schema evolution in progress) — run "
                "rebuild() first, or compute from rows()")

    # -- stats (T1-T4) -------------------------------------------------------

    def stats(self) -> DataFrame:
        """Per-column stats tree rollup from the manifest (metadata
        only — never touches payload bytes).

        Min/max roll up in the value domain: `min_num`/`max_num` for
        the integer family (epoch units / unscaled decimals), string
        `min_str`/`max_str` only for string columns (where the
        lexicographic rollup is meaningful); other logicals report
        nulls rather than a lexicographically-wrong answer."""
        snap = self._manifest_or_raise()
        m = snap.frame(self.spark)
        # schema evolution: dropped columns never resurface here, and
        # a late-added column's rows in pre-add rowgroups ARE null —
        # report store-total n_rows with the shortfall folded into
        # n_nulls (bounds/distincts unaffected: nulls carry no values)
        total_rows = None
        if self._schema_log():
            eff = {f.name for f in self.schema().fields}
            # per-rowgroup rows = max over columns of that column's
            # rows — mirrors count_null's accounting
            total_rows = sum(snap.rowgroup_rows.values())
            m = m.where(F.col("column").isin(sorted(eff)))
        # pre-typed-bounds manifests roll up NULL min/max, not an error
        m = _with_typed_bounds(m)
        is_str = F.col("logical_type") == "string"
        # unknown beats wrong (operators/aggregate.py `_missing`): one
        # non-empty segment without a typed bound (uint64 above int64,
        # NaN-bearing float) nulls the rollup — F.min alone would skip
        # it and report a bound that EXCLUDES that segment's values
        nonempty = F.col("n_rows") > F.col("n_nulls")
        miss = lambda c: F.max(  # noqa: E731
            F.when(nonempty & F.col(c).isNull(), F.lit(1))
            .otherwise(F.lit(0)))
        agg = (m.groupBy("column")
               .agg(F.sum("n_rows").alias("n_rows"),
                    F.sum("n_nulls").alias("n_nulls"),
                    F.sum("n_distinct").alias("distinct_upper_bound"),
                    F.sum("n_runs").alias("n_runs"),
                    F.min("min_num").alias("_min_num"),
                    F.max("max_num").alias("_max_num"),
                    F.min("min_flt").alias("_min_flt"),
                    F.max("max_flt").alias("_max_flt"),
                    miss("min_num").alias("_miss_num"),
                    miss("min_flt").alias("_miss_flt"),
                    F.min(F.when(is_str, F.col("min_repr"))).alias("min_str"),
                    F.max(F.when(is_str, F.col("max_repr"))).alias("max_str"),
                    F.sum("raw_bytes").alias("raw_bytes"),
                    F.sum("enc_bytes").alias("enc_bytes")))
        known = lambda miss_c, c: F.when(F.col(miss_c) == 0, c)  # noqa: E731
        if total_rows is not None:
            shortfall = F.lit(total_rows) - F.col("n_rows")
            agg = agg.withColumn("n_nulls",
                                 F.col("n_nulls") + shortfall) \
                     .withColumn("n_rows", F.lit(total_rows))
        out = agg.select(
            "column", "n_rows", "n_nulls", "distinct_upper_bound",
            "n_runs",
            known("_miss_num", F.col("_min_num")).alias("min_num"),
            known("_miss_num", F.col("_max_num")).alias("max_num"),
            known("_miss_flt", F.col("_min_flt")).alias("min_flt"),
            known("_miss_flt", F.col("_max_flt")).alias("max_flt"),
            "min_str", "max_str", "raw_bytes", "enc_bytes")
        if total_rows is not None:
            # an add_column with zero physical coverage has no manifest
            # rows at all — synthesize its all-null row (n_nulls=total).
            # The snapshot's coverage map knows which columns have
            # manifest rows.
            cov, _ = snap.coverage
            missing = sorted(eff - set(cov))
            if missing:
                pad = self.spark.createDataFrame(
                    [(c, total_rows, total_rows, 0, 0, None, None,
                      None, None, None, None, 0, 0) for c in missing],
                    out.schema)
                out = out.unionByName(pad)
        return out

    def aggregate(self, columns: list[str] | None = None) -> DataFrame:
        """COUNT/MIN/MAX/SUM per column answered from the per-segment
        stats alone (`operators/aggregate.py`): at warehouse scale the query
        reads kilobytes of stats instead of the payload. Unknown beats
        wrong — any non-empty segment missing a stat nulls that
        aggregate. Integer-family bounds/sums are in the STORED domain
        (epoch units, unscaled decimal units); string bounds are
        64-char prefixes of the true min/max."""
        from .operators.aggregate import aggregate_segments
        m = self._manifest_or_raise()
        if self._schema_log():
            eff_names = [f.name for f in self.schema().fields]
            want = list(columns) if columns is not None else eff_names
            self._guard_materialized(m, want, "aggregate")
            columns = want  # dropped columns never report
        # the committed segments' stats columns: a column-pruned scan
        # that never reads a payload byte
        return aggregate_segments(
            self.warehouse.committed_segments(self.spark, m),
            columns=columns)

    def group_count(self, column: str) -> DataFrame:
        """GROUP BY `column` -> (value, cnt) in the encoded domain:
        dict/constant segments answer from the dictionary and run
        lengths without expanding a single row; the shuffle carries
        per-segment distincts only (`operators/aggregate.group_count`).
        Includes the SQL NULL group when the column holds nulls."""
        from .operators.aggregate import group_count
        if self._schema_log():
            self._guard_materialized(self._manifest_or_raise(),
                                     [column], "group_count")
        return group_count(
            self.warehouse.committed_segments(self.spark), column,
            value_type=self._value_type(column))

    def group_agg(self, group_col, agg_col: str,
                  where: tuple[str, object] | None = None) -> DataFrame:
        """GROUP BY `group_col` with count(*)/count/sum/min/max over
        `agg_col`, computed as per-rowgroup partials in the encoded
        domain (`operators/aggregate.group_agg`): group codes come off
        the dictionary run stream, only the agg column's payload is
        decoded, and the shuffle carries at most NDV+1 rows per
        rowgroup.

        `where=(column, value)` pushes an equality predicate all the
        way down: rowgroups are pruned on the MANIFEST first (typed
        bounds + blooms + dictionaries — payload never scanned for an
        excluded rowgroup), then the filter column's encoded probe
        selects the row ranges that feed the partials. Probe/column
        pairs whose Spark coercion the exact-typed kernels cannot
        reproduce fall back to decode-then-filter over the pruned
        segments — same results, fewer skipped bytes."""
        from .operators.aggregate import group_agg
        m = self._manifest_or_raise()
        keys = [group_col] if isinstance(group_col, str) else list(group_col)
        need = {*keys, agg_col} | ({where[0]} if where else set())
        if self._schema_log():
            self._guard_materialized(m, sorted(need), "group_agg")
        # logical types come off the manifest snapshot, not the
        # segments table — the operator skips its own job
        lts = self._logical_types(m, sorted(need))
        if where is None:
            return group_agg(
                self.warehouse.committed_segments(self.spark, m),
                group_col, agg_col, logical_types=lts)
        wcol, wval = where
        wval = _naive_utc(wval)
        pruned, lt = self._pruned_segments(m, wcol, wval, wval, eq=True)
        if not _kernel_safe_probe(lt or "", wval):
            agg_t = F.col(agg_col)
            alt = self._logical_type(m, agg_col) or ""
            # sum in the SAME stored domain the operator path reports
            # (epoch units for temporals — facade ingest is Spark-side,
            # so timestamps are always micros; 0/1 for bool); types the
            # operator rejects are rejected here too, never summed
            # differently on one path than the other
            if alt.startswith("float"):
                sum_expr = F.sum(agg_t).cast("double")
            elif alt.startswith("timestamp"):
                # NULL by contract, matching the operator path: SQL
                # defines no SUM over timestamps and epoch-us sums
                # overflow int64 at ~5k rows per group
                sum_expr = F.lit(None).cast("long")
            elif alt == "date32":
                sum_expr = F.sum(F.datediff(
                    agg_t, F.to_date(F.lit("1970-01-01"))))
            elif alt in ("int8", "int16", "int32", "int64", "uint8",
                         "uint16", "uint32", "bool"):
                # uint64 deliberately NOT here: the operator path
                # raises (values exceed exact-int64 arithmetic; the
                # Spark surface is decimal(20,0), and .cast("long")
                # would NULL-out >=2^63 values — a silently wrong
                # sum). Same rejection on both paths.
                sum_expr = F.sum(agg_t.cast("long"))
            else:
                raise ValueError(
                    f"group_agg: unsupported agg column type {alt!r} "
                    "(int family, temporals, bool, and floats only)")
            keys = ([F.col(group_col).alias("value")]
                    if isinstance(group_col, str)
                    else [F.col(c) for c in group_col])
            inner = sorted({*([group_col] if isinstance(group_col, str)
                              else group_col), agg_col, wcol})
            return (decode(pruned, schema=m.decode_schema,
                           columns=inner)
                    .where(F.col(wcol) == F.lit(wval))
                    .groupBy(*keys)
                    .agg(F.count(F.lit(1)).alias("cnt"),
                         F.count(agg_t).alias("n_agg"),
                         sum_expr.alias("sum_agg"),
                         F.min(agg_t).alias("min_agg"),
                         F.max(agg_t).alias("max_agg")))
        return group_agg(pruned, group_col, agg_col, where=(wcol, wval),
                         logical_types=lts)

    def count_by_value(self, column: str, value) -> DataFrame:
        """Exact COUNT(*) WHERE column = value without gathering a
        row: manifest pruning (bounds + bloom) drops rowgroups, the
        survivors answer from probe-range LENGTHS on the one probed
        column (`operators/aggregate.count_matching`). Probes whose
        Spark coercion the kernels can't reproduce fall back to
        decode-then-count over the pruned segments."""
        from .operators.aggregate import count_matching
        value = _naive_utc(value)
        m = self._manifest_or_raise()
        if self._schema_log():
            self._guard_materialized(m, [column], "count_by_value")
        pruned, lt = self._pruned_segments(m, column, value, value,
                                           eq=True)
        if not _kernel_safe_probe(lt or "", value):
            return (decode(pruned, schema=m.decode_schema,
                           columns=[column])
                    .where(F.col(column) == F.lit(value))
                    .agg(F.count(F.lit(1)).alias("cnt")))
        return count_matching(pruned, column, value)

    def distinct(self, column: str) -> DataFrame:
        """SELECT DISTINCT `column` -> (value) in the encoded domain:
        each segment contributes its dictionary — dict/constant codecs
        never expand a run, other codecs decode this one column — so
        the distinct shuffle carries per-segment NDV rows, not table
        rows (`operators/aggregate.distinct_values`). Includes the SQL
        NULL row when the column holds nulls. The value type resolves
        off the MANIFEST (metadata), not a segments job."""
        from .operators.aggregate import distinct_values
        if self._schema_log():
            self._guard_materialized(self._manifest_or_raise(),
                                     [column], "distinct")
        return distinct_values(
            self.warehouse.committed_segments(self.spark), column,
            value_type=self._value_type(column))

    def count_distinct(self, column: str) -> DataFrame:
        """Exact COUNT(DISTINCT `column`) -> (n_distinct) with SQL
        semantics (nulls excluded), riding the same per-segment
        dictionary stage as `distinct` — the aggregation input is the
        union of dictionaries, never the rows
        (`operators/aggregate.count_distinct`)."""
        from .operators.aggregate import count_distinct
        if self._schema_log():
            self._guard_materialized(self._manifest_or_raise(),
                                     [column], "count_distinct")
        return count_distinct(
            self.warehouse.committed_segments(self.spark), column,
            value_type=self._value_type(column))

    def quantile(self, column: str, qs: list[float],
                 where=None) -> DataFrame:
        """EXACT type-1 quantiles of `column` -> (q, value) rows,
        computed in the encoded domain (`operators/aggregate.quantiles`):
        the global histogram is the union of per-segment dictionaries
        (dict run lengths ARE the counts — no row ever expands), so
        the sort is over DISTINCT values, not table rows. NULLs
        excluded, SQL-style; deterministic (order statistics, not
        approx_percentile).

        `where=` restricts to matching rows, pushed down — either the
        legacy `(col, value)` equality tuple or a `query_where`-shaped
        conjunctive predicate dict `{column: probe}` (`None` IS NULL,
        2-tuple inclusive range, list/set IN-list, else equality):
        every predicate's manifest keep-set prunes, one kernel-safe
        predicate drives the encoded matching-gather, and the full
        conjunction re-applies as Spark's own filter. Values are
        natural Python (tz-aware datetimes normalized to naive UTC);
        predicates whose Spark coercion the exact-typed kernels can't
        reproduce never drive the gather — they fall back to
        decode-then-filter over the pruned segments, same results,
        fewer skipped bytes. Unknown columns raise."""
        from .operators.aggregate import quantiles
        from .operators.decode import _spark_type_of
        m = self._manifest_or_raise()
        if where is None or where == {}:
            if self._schema_log():
                self._guard_materialized(m, [column], "quantile")
            return quantiles(
                self.warehouse.committed_segments(self.spark), column,
                qs, value_type=self._value_type(column))
        wcols = ([where[0]] if isinstance(where, tuple)
                 else list(where))
        if self._schema_log():
            self._guard_materialized(m, [column, *wcols], "quantile")
        # all logical types in ONE manifest job; a typo must raise,
        # never silently prune everything into an empty result
        lts = self._logical_types(m, [column, *wcols])
        for c in (column, *wcols):
            if c not in lts:
                raise ValueError(f"unknown column {c!r}")
        return quantiles(
            self.warehouse.committed_segments(self.spark), column, qs,
            value_type=_spark_type_of(lts[column]),
            where=where, where_logicals=lts)

    def _value_type(self, column: str):
        """Spark type of `column` from the manifest's logical_type —
        a kilobyte metadata read; raises on an unknown column (a typo
        must not return an empty distinct set)."""
        from .operators.decode import _spark_type_of
        lt = self._logical_type(self._manifest_or_raise(), column)
        if lt is None:
            raise ValueError(f"unknown column {column!r}")
        return _spark_type_of(lt)

    def count_null(self, column: str) -> DataFrame:
        """Exact COUNT(*) WHERE `column` IS NULL answered from the
        MANIFEST alone: the encoder already counted every segment's
        nulls (`n_nulls`, exact for every logical type — T1-T4 stats),
        so the query is a metadata sum — zero payload bytes, zero
        kernel work, at any store size. Raises for a column the store
        doesn't hold (a typo must not count 0)."""
        m = self._manifest_or_raise()
        rows = [r for r in m.rows if r["column"] == column]
        cnt = sum(r["n_nulls"] for r in rows)
        if self._schema_log():
            if column not in {f.name for f in self.schema().fields}:
                raise ValueError(f"unknown column {column!r}")
            # still exact, still metadata-only: every row of a
            # rowgroup that predates the add IS null for the column
            has = {r["rowgroup_id"] for r in rows}
            cnt += sum(n for rg, n in m.rowgroup_rows.items()
                       if rg not in has)
        elif not rows:
            raise ValueError(f"unknown column {column!r}")
        return self.spark.createDataFrame([(int(cnt),)], "cnt long")

    def topk(self, column: str, k: int, descending: bool = True,
             columns: list[str] | None = None,
             tie_cols: tuple[str, ...] = (),
             where: tuple[str, object] | None = None) -> DataFrame:
        """k rows with the extreme non-null `column` values, driven by
        manifest bounds (`operators/topk.py`): a seed rowgroup yields
        the k-th-value threshold, bounds prune everything that can't
        clear it, and only the survivors decode — payload read scales
        with k, not the store.

        `where=` pushes a row filter into the top-k — either the
        legacy `(col, value)` equality tuple or a `query_where`-shaped
        conjunctive predicate dict `{column: probe}` (`None` IS NULL,
        2-tuple inclusive range, list/set IN-list, else equality):
        every predicate's manifest keep-set prunes before threshold
        seeding, and the exact conjunction re-applies as Spark's own
        filter on the survivors — so coercion-dependent probes and
        IS NULL need no separate path (the filter never runs on the
        encoded form). Same value contract as `quantile(where=...)`:
        natural Python values, tz-aware datetimes normalized to naive
        UTC, unknown columns raise."""
        from .operators.topk import topk
        m = self._manifest_or_raise()
        wcols = ([] if where is None
                 else [where[0]] if isinstance(where, tuple)
                 else list(where))
        if self._schema_log():
            self._guard_materialized(
                m, [column, *tie_cols, *(columns or []), *wcols],
                "topk")
        lts = self._logical_types(m, [column, *wcols])
        for c in (column, *wcols):
            if c not in lts:
                raise ValueError(f"unknown column {c!r}")
        out = topk(self.warehouse.committed_segments(self.spark),
                   column, k, descending=descending, columns=columns,
                   tie_cols=tie_cols,
                   logical_type=lts[column],
                   where=where, where_logicals=lts)
        return out if columns is not None else self._align_effective(out)

    # -- queries (S3/S4) -----------------------------------------------------

    def _manifest_or_raise(self) -> ManifestSnapshot:
        # the driver-side snapshot of the current commit; its LIVE view
        # (latest run per rowgroup/column, compaction tombstones
        # applied) drives pruning and the manifest-only aggregates —
        # the raw history would double-count rowgroups superseded by
        # compact()
        m = self.warehouse.snapshot(self.spark)
        if m is None:
            raise ValueError("empty store (no committed segments)")
        return m

    def _logical_type(self, m: ManifestSnapshot, column: str) -> str | None:
        return m.logical_types.get(column)

    def _logical_types(self, m: ManifestSnapshot, cols) -> dict[str, str]:
        return {c: m.logical_types[c] for c in dict.fromkeys(cols)
                if c in m.logical_types}

    def _pruned_segments(self, m: ManifestSnapshot, column: str, lo, hi,
                         eq: bool,
                         logical_type: str | None = None) -> DataFrame:
        """Segments restricted to rowgroups that may match the probe.

        The keep-set comes off the driver-side manifest snapshot (no
        Spark job), and the segments read filters to it with a
        `rowgroup_id IN (...)` the parquet scan uses to skip whole row
        groups (PushedFilters — gated in tests/test_plans.py)."""
        lt = (logical_type if logical_type is not None
              else self._logical_type(m, column))
        kind, payload = ("eq", lo) if eq else ("range", (lo, hi))
        ids = m.keep_ids(column, kind, payload, lt)
        return self.warehouse.committed_segments(self.spark, m, ids), lt

    def _finish_query(self, out: DataFrame, cond,
                      columns: list[str] | None,
                      include_pending: bool) -> DataFrame:
        """Shared tail of every probe query: with `include_pending`,
        union the pending delta batches' rows matching the SAME Spark
        predicate — read-your-writes without `close()`, the analogue
        of the reference querying its delta rowgroups alongside solid
        ones (`ColumnStore.cs:76-87`); the solid side still answers
        from the encoded form, the delta side is a plain parquet
        filter over the (small, recent) un-compacted batches. Then
        the user projection selects out any probe columns carried only
        for the predicate."""
        if columns is None:
            # full-row results follow the EFFECTIVE schema: dropped
            # columns never resurface from physical segments, evolved
            # adds appear (null-filled). No-op without evolution.
            out = self._align_effective(out)
        if include_pending:
            pending = self._pending_batches()
            if pending:
                delta = self._read_pending(pending)
                if self._schema_log():
                    # late-added columns null-fill BEFORE the predicate
                    # (IS NULL on an evolved column matches those rows)
                    delta = self._align_delta(delta, list(out.columns))
                out = out.unionByName(
                    delta.where(cond).select(*out.columns))
        return out if columns is None else out.select(*columns)

    def _empty_result(self, m: ManifestSnapshot, columns, *probe_cols):
        """The answer to a probe that matches nothing (an empty
        IN-list): an empty frame with the result schema — under
        pending evolution the EFFECTIVE one (drops away, adds present,
        unknown names raise), so it unions with any non-empty result.
        Nothing is read: the frame is built from the schema alone."""
        if self._schema_log():
            self._needs_fallback(m, *probe_cols, *(columns or []))
            # the types `solid_rows` decodes to: physical columns keep
            # their stored type, unphysical adds take the logged one
            stored = {f.name: f for f in m.decode_schema.fields}
            out = self.spark.createDataFrame([], T.StructType(
                [stored.get(f.name, f) for f in self.schema().fields]))
        else:
            out = decode(self.warehouse.pinned_read(self.spark, m, []),
                         schema=m.decode_schema,
                         columns=_inner_columns(columns, *probe_cols))
        return out if columns is None else out.select(*columns)

    def _probe(self, preds, columns: list[str] | None,
               include_pending: bool, any_mode: bool = False) -> DataFrame:
        """The one plan behind every predicate query. `preds` are
        normalized `(column, kind, payload)` triples (kind eq / range /
        in / null) combined by AND, or by OR with `any_mode`.

        Planning reads only the driver-side manifest snapshot — no
        Spark job: each predicate's keep-set (typed bounds, Bloom,
        n_nulls) is evaluated there and the sets intersect (AND) or
        unite (OR) before any payload is read. Under AND the most
        selective kernel-safe predicate (smallest keep-set) drives the
        encoded-form gather (`decode_matching[_in/_range/_null]`);
        under OR no single branch may drive it (a row matching only
        another branch would be lost), so the kept rowgroups decode
        with encoded-level projection. Spark's own predicate then
        re-applies, so result semantics are exactly the DataFrame
        filter's.

        The kept segments reach the decode stage as a pinned read. One
        within the stage's driver budget (a point or IN lookup) is
        read and decoded in the driver while this plan is built —
        eagerly, from this plan's commit — so the returned frame is a
        local relation whose `collect()` runs no Spark job; a larger
        one runs as one mapInArrow stage when forced."""
        m = self._manifest_or_raise()
        cols = [c for c, _k, _p in preds]
        fallback = self._needs_fallback(m, *cols, *(columns or []))
        lts = {} if fallback else self._logical_types(m, cols)
        for c in cols:
            if not fallback and c not in lts:
                raise ValueError(f"unknown column {c!r}")
        norm = [(c, k, p, lts.get(c) or "") for c, k, p in preds]
        if any_mode:
            # IN () matches nothing: drop the branch under OR
            norm = [n for n in norm if not (n[1] == "in" and not n[2])]
        if not norm or any(k == "in" and not p for _c, k, p, _lt in norm):
            return self._empty_result(m, columns, *cols)
        if fallback:
            return self._fallback_query(_exact_pred_cond(norm, any_mode),
                                        columns, include_pending,
                                        probe_cols=tuple(cols))
        keep = [m.keep_ids(c, k, p, lt) for c, k, p, lt in norm]
        if any_mode:
            ids = None if None in keep else set().union(*keep)
        else:
            known = [set(s) for s in keep if s is not None]
            ids = set.intersection(*known) if known else None
        segs = self.warehouse.pinned_read(self.spark, m, ids)
        inner = _inner_columns(columns, *cols)
        # the most selective kernel-safe predicate drives the gather
        order = sorted(range(len(norm)), key=lambda i: (
            float("inf") if keep[i] is None else len(keep[i])))
        best = None if any_mode else next(
            (norm[i] for i in order if _kernel_safe_pred(*norm[i][1:])),
            None)
        if best is None:
            out = decode(segs, schema=m.decode_schema, columns=inner)
        else:
            out = decode_matching_pred(segs, best, inner, m.decode_schema)
        cond = _exact_pred_cond(norm, any_mode)
        return self._finish_query(out.where(cond), cond, columns,
                                  include_pending)

    def query_by_value(self, column: str, value,
                       columns: list[str] | None = None,
                       include_pending: bool = False) -> DataFrame:
        """Rows where `column` equals `value`, reading only segments
        whose manifest stats admit the probe (the reference's
        `QueryByValue` inverted-index idea at warehouse scale). The
        column's logical type comes from the manifest (metadata), so
        numeric probes prune in the value domain — never the
        lexicographic repr.

        Within the surviving rowgroups the rows come straight off the
        encoded form (`decode_matching`: probe ranges on the queried
        column, run-clipped gathers on the rest) — no full decode. The
        trailing `.where` re-applies Spark's own equality on the
        already-matching rows (bit-cheap) so the result semantics are
        exactly the DataFrame filter's. Probe/column pairs whose Spark
        coercion the exact-typed kernels cannot reproduce (a string
        probe on a numeric column, NaN on floats, a float probe on a
        decimal column, nested/binary) skip the kernels and run
        Spark's own predicate over the decoded pruned segments — same
        results, just fewer skipped bytes.

        `columns` projects at the ENCODED level: only the named
        columns (plus the probe column) are gathered; a wide text
        column the caller didn't ask for never leaves storage."""
        return self._probe([(column, "eq", _naive_utc(value))], columns,
                           include_pending)

    def query_by_range(self, column: str, lo, hi,
                       columns: list[str] | None = None,
                       include_pending: bool = False) -> DataFrame:
        """Rows where lo <= `column` <= hi: manifest pruning, then the
        encoded-form range probe (`decode_matching_range` — a
        conservative superset off the dictionary/runs), with Spark's
        own `between` re-applied as the exact predicate. The range
        kernels widen unconvertible bounds out to the whole segment,
        so only nested/binary columns need the decode fallback.
        `columns` projects at the encoded level (probe column always
        gathered for the exact re-filter, then dropped)."""
        return self._probe(
            [(column, "range", (_naive_utc(lo), _naive_utc(hi)))],
            columns, include_pending)

    def query_by_in(self, column: str, values,
                    columns: list[str] | None = None,
                    include_pending: bool = False) -> DataFrame:
        """Rows where `column` IN (`values`) — the batch point lookup
        ("fetch these k conversations"): every probe value prunes on
        the manifest (typed bounds AND its per-segment Bloom test),
        the keep-sets UNION, and the survivors run ONE encoded-form
        pass that tests each dictionary once per value and gathers the
        union of matching runs (`decode_matching_in`) — k lookups for
        one scan of the probe column's surviving payloads. SQL IN
        semantics: null probes never match, duplicates collapse, an
        empty effective list returns an empty frame. Probe/column
        pairs the exact-typed kernels can't reproduce fall back to
        decode + Spark's own `isin` over the pruned segments.
        `columns` projects at the encoded level."""
        return self._probe([(column, "in", _dedup_probes(values))],
                           columns, include_pending)

    def semi_join(self, keys: DataFrame, on: str,
                  key_col: str | None = None,
                  columns: list[str] | None = None,
                  include_pending: bool = False) -> DataFrame:
        """Rows whose `on` value appears in the `keys` DataFrame — the
        distributed complement of `query_by_in` for key sets that must
        not transit the driver ("all conversations for these
        customers" where the customer side is itself a big table).

        Plan shape (`operators/semijoin.py`, plan-gated in
        `tests/test_semijoin.py`): the probe column's manifest bounds
        BROADCAST to the key side and a non-equi join computes which
        rowgroups at least one key can inhabit — Spark's dynamic
        partition pruning re-expressed against our manifest, with the
        nested loop bounded by metadata size, never data. Surviving
        segments decode (column-projected) and leftsemi-HASH-join the
        distinct keys; AQE picks broadcast vs shuffled hash by key-side
        size. SQL IN semantics: null keys never match. Types the
        bounds can't speak for (non-ASCII-prunable strings aside,
        e.g. decimals) skip the prune, never the exactness join."""
        from .operators.semijoin import semi_join_segments
        if key_col is None:
            if len(keys.columns) != 1:
                raise ValueError(
                    "key_col required when keys has multiple columns")
            key_col = keys.columns[0]
        m = self._manifest_or_raise()
        if self._schema_log():
            # join keys on a half-materialized column can't ride the
            # manifest/Bloom prune soundly in both directions; a
            # dropped or unphysical name must not resolve at all
            self._guard_materialized(m, [on, *(columns or [])],
                                     "semi_join")
        kdf = (keys.select(key_col)
               .where(F.col(key_col).isNotNull()).distinct())
        lt = self._logical_type(m, on)
        segs = self.warehouse.committed_segments(self.spark, m)
        pruned = semi_join_segments(segs, m.frame(self.spark), on, kdf, lt)
        inner = _inner_columns(columns, on)
        out = decode(pruned, schema=m.decode_schema, columns=inner)
        out = out.join(kdf, out[on] == kdf[key_col], "leftsemi")
        if columns is None:
            out = self._align_effective(out)
        if include_pending:
            pending = self._pending_batches()
            if pending:
                delta = self._read_pending(pending)
                if self._schema_log():
                    delta = self._align_delta(delta, list(out.columns))
                out = out.unionByName(
                    delta.join(kdf, delta[on] == kdf[key_col],
                               "leftsemi").select(*out.columns))
        return out if columns is None else out.select(*columns)

    def query_by_null(self, column: str,
                      columns: list[str] | None = None,
                      include_pending: bool = False) -> DataFrame:
        """Rows where `column` IS NULL. The one predicate that is
        always FULLY prunable: the manifest's exact per-segment
        `n_nulls` (kept for every logical type) eliminates each
        rowgroup without a single null before any payload is read, and
        the survivors probe the frame validity bitmap alone
        (`decode_matching_null` — zero body bytes on the probe column
        for every scalar codec). Under pending schema evolution a
        rowgroup that predates add_column() holds NO manifest row for
        the column, yet every one of its rows matches: the decode
        fallback null-fills them. `columns` projects at the encoded
        level."""
        return self._probe([(column, "null", None)], columns,
                           include_pending)

    def query_by_prefix(self, column: str, prefix: str,
                        columns: list[str] | None = None,
                        include_pending: bool = False) -> DataFrame:
        """Rows where string `column` starts with `prefix`
        (LIKE 'prefix%'). An ASCII prefix converts to the value range
        [prefix, prefix-with-last-char-incremented] — every string
        carrying the prefix falls inside it in byte order AND UTF-16
        order (the comparison resolves at the incremented ASCII
        position), so the existing range machinery does the work:
        manifest bounds prune rowgroups, the dictionary range-test
        clips runs, and Spark's exact `startswith` narrows the
        superset. Non-ASCII prefixes (where the two orders can
        disagree) fall back to decode + filter — same rows, no skip.
        `columns` projects at the encoded level."""
        if not isinstance(prefix, str):
            raise ValueError("prefix must be a str")
        m = self._manifest_or_raise()
        cond = F.col(column).startswith(prefix)
        fallback = self._string_fallback(m, column, "query_by_prefix",
                                         cond, columns, include_pending)
        if fallback is not None:
            return fallback
        inner = _inner_columns(columns, column)
        upper = (_prefix_upper(prefix) if prefix and prefix.isascii()
                 else None)
        if upper is None:
            out = decode(self.warehouse.pinned_read(self.spark, m),
                         schema=m.decode_schema, columns=inner)
        else:
            ids = m.keep_ids(column, "range", (prefix, upper), "string")
            out = decode_matching_range(
                self.warehouse.pinned_read(self.spark, m, ids), column,
                prefix, upper, columns=inner, schema=m.decode_schema)
        return self._finish_query(out.where(cond), cond, columns,
                                  include_pending)

    def query_by_contains(self, column: str, needle: str,
                          columns: list[str] | None = None,
                          include_pending: bool = False) -> DataFrame:
        """Rows whose string `column` contains `needle`
        (LIKE '%needle%') — the text-search staple. No zone map can
        prune a substring probe, but the encoded form still skips
        work: dictionary segments substring-test each DISTINCT value
        once and clip out the matching runs; FSST/plain segments
        decode only this column through Arrow's vectorized
        match_substring, and the other columns gather just the
        matching ranges. Spark's exact `contains` re-applies on the
        survivors (byte containment of valid UTF-8 equals codepoint
        containment, so the kernel is already exact — the trailing
        filter is belt-and-braces, evaluated on matching rows only).
        `columns` projects at the encoded level."""
        if not isinstance(needle, str):
            raise ValueError("needle must be a str")
        m = self._manifest_or_raise()
        cond = F.col(column).contains(needle)
        fallback = self._string_fallback(m, column, "query_by_contains",
                                         cond, columns, include_pending)
        if fallback is not None:
            return fallback
        out = decode_matching_contains(
            self.warehouse.pinned_read(self.spark, m), column,
            needle, columns=_inner_columns(columns, column),
            schema=m.decode_schema)
        return self._finish_query(out.where(cond), cond, columns,
                                  include_pending)

    def _string_fallback(self, m, column: str, op: str, cond, columns,
                         include_pending: bool) -> DataFrame | None:
        """The decode-and-filter plan of a string-only probe when the
        encoded path cannot serve it (`_needs_fallback`), else None;
        raises ValueError unless `column` is a string column."""
        if self._needs_fallback(m, column, *(columns or [])):
            if not isinstance(self.schema()[column].dataType,
                              T.StringType):
                raise ValueError(f"{op} needs a string column; "
                                 f"{column!r} is not")
            return self._fallback_query(cond, columns, include_pending,
                                        probe_cols=(column,))
        lt = self._logical_type(m, column)
        if lt != "string":
            raise ValueError(
                f"{op} needs a string column; {column!r} is {lt!r}")
        return None

    def query_where(self, predicates: dict[str, object],
                    columns: list[str] | None = None,
                    include_pending: bool = False) -> DataFrame:
        """Conjunctive (AND) multi-column query: `{column: probe}` where
        a 2-tuple probe means an inclusive range, a list/set an IN-list
        (SQL semantics: null members never match, duplicates collapse,
        an empty effective list matches nothing), `None` means IS NULL,
        and anything else an equality. The reference composes
        `QueryByValue` one predicate at a time (`ColumnSegment.cs:38-92`);
        at warehouse scale the win of doing them together is pruning:
        each predicate's keep-set is evaluated on the MANIFEST and the
        sets are INTERSECTED before any payload is read — equality/IN
        probes AND their per-segment Bloom tests, IS NULL the exact
        n_nulls test — so a conjunction on (conv_id, role) reads only
        rowgroups that pass both filters.

        Within the survivors, the most selective kernel-safe predicate
        (smallest keep-set) runs on the encoded form
        (`decode_matching[_range/_in/_null]`); every predicate is then
        re-applied as Spark's own filter, so result semantics are
        exactly the DataFrame conjunction's."""
        if not predicates:
            raise ValueError("query_where needs at least one predicate")
        return self._probe(_norm_preds(predicates.items()), columns,
                           include_pending)

    def query_any(self, predicates, columns: list[str] | None = None,
                  include_pending: bool = False) -> DataFrame:
        """Disjunctive (OR) multi-column query — the complement of
        `query_where`: rows matching ANY predicate. Probes use the same
        shapes (`None` IS NULL, 2-tuple inclusive range, list/set
        IN-list, else equality); pass a dict `{column: probe}` or, for
        several probes on one column, a list of `(column, probe)`
        pairs.

        Pruning under OR is the keep-set UNION, evaluated on the
        manifest snapshot (bounds AND bloom AND n_nulls per branch, OR
        across branches): a rowgroup is skipped only when EVERY branch
        excludes it. One unprunable branch makes the whole prune a
        conservative no-op — under OR that branch alone could match
        anywhere. Unlike the conjunctive path there is no
        single-predicate encoded probe (a row matching only another
        branch would be lost), so the surviving rowgroups decode with
        encoded-level projection to the needed columns and Spark's own
        OR filter runs on top — results are exactly the DataFrame
        disjunction's."""
        items = (list(predicates.items())
                 if isinstance(predicates, dict) else list(predicates))
        if not items:
            raise ValueError("query_any needs at least one predicate")
        return self._probe(_norm_preds(items), columns, include_pending,
                           any_mode=True)

    def _align_effective(self, out: DataFrame) -> DataFrame:
        """Project a decoded frame to the effective schema (no-op
        without schema evolution): unphysical adds become typed NULL
        columns, dropped columns are projected away."""
        if not self._schema_log():
            return out
        eff = self.schema()
        for f in eff.fields:
            if f.name not in out.columns:
                out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
        return out.select(*[f.name for f in eff.fields])

    def query_by_window(self, rowgroup_id: int, start: int,
                        length: int) -> DataFrame:
        """Row window of one rowgroup via the run-clipping kernels."""
        m = self._manifest_or_raise()
        return self._align_effective(decode_window(
            self.warehouse.pinned_read(self.spark, m), rowgroup_id, start,
            length, schema=m.decode_schema))

    def rows_window(self, start: int, length: int) -> DataFrame:
        """GLOBAL page [start, start+length) of the committed store
        under its stable enumeration order (rowgroup_id ascending,
        encode order within) — the reference enumerator's paging
        (`ColumnStore.GetEnumerator`). Routed through the manifest's
        per-rowgroup row counts, so only the touched rowgroups' run-
        clipped windows decode: a page costs payload proportional to
        `length`, not to the store (`operators/decode_window_global`).
        Out-of-range windows clamp; a page past the end is empty."""
        from .operators import decode_window_global
        m = self._manifest_or_raise()
        return self._align_effective(decode_window_global(
            self.warehouse.pinned_read(self.spark, m), start, length,
            schema=m.decode_schema, rowgroup_rows=m.rowgroup_rows))
