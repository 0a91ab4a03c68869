"""Persisted-index lifecycle: the storage protocol shared by the three
persisted indexes (:mod:`banded_index`, :mod:`text_index`,
:mod:`vector_index`).

Every index keeps per-batch datasets — ``<root>/<name>/batch_id=N/...``,
each batch written with ``mode("overwrite")`` into its own directory —
and hands everything that is not its own data shape to one
:class:`IndexLifecycle`:

- **exactly-once commits.** A batch is applied iff it is at or below the
  ``compacted_through`` watermark or recorded in the ``applied_log``
  manifest (:mod:`manifest`), appended after the batch's last dataset
  write. Probe reads exclude the in-flight batch and filter through
  :meth:`IndexLifecycle.applied_cond`, so a foreachBatch replay is a
  no-op or a byte-identical re-commit.
- **merge-on-read deletes.** ``deletes/`` holds tombstoned ids, the
  Delta/Iceberg delete-file idiom: reads anti-join the broadcast set,
  compaction drops the rows physically.
- **compaction.** Every applied batch folds into one ``batch_id=<max>``
  directory tree per dataset, swapped in with the rename-aside protocol
  (stage → live→``.__old__`` → stage→live → delete,
  :func:`storage.replace_dir`); a crash between the two renames is
  restored by :meth:`IndexLifecycle.recover`.
- **parameter rebuild** (``rebuild``/``retrain``). Fully staged
  ``<ds>.__<op>__`` datasets, then a write-ahead ``<op>_commit`` marker
  carrying the new config, then idempotent swaps that any public entry
  point finishes (:meth:`IndexLifecycle.finish_rebuild`).
- **pairs-log fold.** The dedup indexes' ``pairs/`` log keeps one
  ``batch_id=N`` directory per micro-batch — the historical output
  record, which :meth:`IndexLifecycle.compact` never rewrites — so every
  ``pairs()`` read would list O(batches) directories.
  :meth:`IndexLifecycle.compact_pairs` moves the rows of batches at or
  below the compaction watermark into one ``pairs_hist`` dataset with
  ``batch_id`` carried as a data column (provenance kept, reader output
  bit-identical): (1) stage ``pairs_hist.__fold__`` = history ∪ the moved
  batches' rows; (2) write the ``pairs_fold_commit`` intent marker, the
  commit point; (3) :meth:`IndexLifecycle.finish_pairs_fold` swaps the
  staging in, advances the ``pairs_folded`` watermark, deletes the moved
  live directories and drops the marker. The marker implies a complete
  staging and every finishing step is idempotent, so a fold is
  crash-finishable from any point; readers finish it before reading (one
  cached ``path_exists`` when idle), so the window where a batch is both
  in the history and live is never observed.
- the ``meta`` config pin, the maintenance-lease fence around commits
  (:mod:`lease`), ``scrub_pairs`` for the pairs log and its history, and
  the per-instance metadata and dataset-listing caches.

Owner protocol: the index passes itself as ``owner`` and provides
``spark``, ``root``, ``_config()`` (the immutable params, keyed by their
attribute names) and ``_recover_compaction()`` (which calls
:meth:`IndexLifecycle.recover` and then the index's own
``_recover_rebuild``/``_recover_retrain``). ``lease.maintenance_op``
keeps ``_lease_depth``/``_active_lease`` on the owner, and the write
guards here read them from there.
"""

from __future__ import annotations

import json
import numbers
from typing import Callable, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import storage as fs_storage
from . import lease, manifest


def _id_type(ids: list) -> str:
    """The tombstone column type of a list of ids: "int64" for integers,
    "string" for strings; anything else, or a mix, raises."""
    kinds = {
        "string" if isinstance(i, str)
        else "int64" if isinstance(i, numbers.Integral)
        and not isinstance(i, bool)
        else None
        for i in ids
    }
    if len(kinds) != 1 or None in kinds:
        raise ValueError(
            "ids must be all integers or all strings, got "
            f"{sorted({type(i).__name__ for i in ids})}"
        )
    return kinds.pop()


class IndexLifecycle:
    """Applied log, watermark, tombstones, rename-aside swaps, config pin,
    lease-fenced commits and the pairs log of one index root.

    ``datasets``: the index's per-batch dataset names, the legacy-marker
    dataset (the one written last before commits ran concurrently) first.
    ``op``: the name of the index's parameter rebuild ("rebuild" or
    "retrain"), which names its marker and staging suffix.
    ``pairs_score``: the score column of a pairs log (``pairs/`` becomes
    one more per-batch dataset); None for an index without one.
    ``rebuilt``: datasets outside the per-batch set that a rebuild also
    restages (the vector index's quantizer)."""

    def __init__(
        self,
        owner,
        datasets,
        op: str = "rebuild",
        pairs_score: Optional[str] = None,
        rebuilt=(),
    ) -> None:
        self.owner = owner
        self.spark = owner.spark
        self.root = owner.root
        self.op = op
        j = fs_storage.join
        own = [j(self.root, d) for d in datasets]
        extra = [j(self.root, d) for d in rebuilt]
        self.pairs_path = j(self.root, "pairs") if pairs_score else None
        self.pairs_hist_path = j(self.root, "pairs_hist")
        self.pairs_fold_staging = self.pairs_hist_path + ".__fold__"
        pairs = [self.pairs_path] if pairs_score else []
        self.datasets = own + pairs
        self.rebuilt = own + extra
        # everything a rename-aside swap can leave at <ds>.__old__
        self._swapped = own + pairs + extra + (
            [self.pairs_hist_path] if pairs_score else []
        )
        self.meta_path = j(self.root, "meta")
        self.watermark_path = j(self.root, "compacted_through")
        self.deletes_path = j(self.root, "deletes")
        self.marker_path = j(self.root, f"{op}_commit")
        self.applied_log_path = j(self.root, "applied_log")
        self.pairs_folded_path = j(self.root, "pairs_folded")
        self.pairs_fold_marker_path = j(self.root, "pairs_fold_commit")
        self.pairs_cols = ["id_a", "id_b", pairs_score, "batch_id"]
        self.pairs_ddl = (
            f"id_a long, id_b long, {pairs_score} double, batch_id long"
        )
        # per-instance metadata caches: the compaction watermark, the
        # tombstone set, and the meta-row validation are all tiny but
        # re-read per micro-batch otherwise — at high batch frequency the
        # fixed per-batch FS reads dominate. Invalidated by the mutating
        # ops (delete_ids/compact); single-writer per instance is already
        # the indexes' contract.
        self._ct_cache: Optional[int] = None
        self._tomb_cache = "unset"
        self._tomb_sig = None
        self.meta_checked = False
        # (applied-ids set above the watermark, log-exists flag) — one
        # cached commit-log read replaces the per-batch _SUCCESS probes
        self._applied_cache: Optional[tuple] = None
        self._pf_cache: Optional[int] = None  # pairs-fold watermark
        # dataset-read cache (round 17): spark.read.parquet(<dataset>)
        # re-lists every accumulated batch_id=/prefix directory and
        # re-reads a footer for schema on EVERY call — a probe reads
        # each dataset up to twice per micro-batch, so the per-probe
        # partition discovery grows O(uncompacted batches). The resolved
        # DataFrame is cached per dataset path and dropped whenever the
        # dataset's directories can change (apply_batch commit, compact,
        # rebuild, refresh) — the same invalidation points as the
        # applied-set cache. The probe-time filters (applied set,
        # exclude_batch_id) still run per call against the cached
        # listing, so visibility semantics are unchanged.
        self._ds_cache: dict = {}
        # each dataset's schema, kept across forget_listings: a re-list
        # after a commit then passes it to the reader instead of
        # inferring it again, which is a Spark job (a parallel footer
        # read). Per-batch datasets keep one schema for an index's life;
        # invalidate drops it with the other caches.
        self._schema_cache: dict = {}

    # -- caches ------------------------------------------------------------

    def invalidate(self) -> None:
        """Drop every metadata cache (tombstones, compaction watermark,
        applied-batch set, pairs-fold watermark, dataset listings) so the
        next read re-syncs with mutations other instances committed —
        deletes, compactions, applied batches. Single-writer per index is
        still the contract; this is the reader-side lever."""
        if isinstance(self._tomb_cache, DataFrame):
            self._tomb_cache.unpersist()
        self._tomb_cache = "unset"
        self._ct_cache = None
        self._applied_cache = None
        self._pf_cache = None
        self._ds_cache.clear()
        self._schema_cache.clear()

    def forget_listings(self) -> None:
        """A commit added batch_id= directories the cached dataset
        listings cannot see — the next probe must re-list."""
        self._ds_cache.clear()

    def read_cached(self, path: str) -> Optional[DataFrame]:
        """``spark.read.parquet(path)``, cached until the dataset's
        directories can change; None for a dataset without part files.
        A re-read reuses the schema the first read inferred, so only
        that first read runs a Spark job."""
        df = self._ds_cache.get(path)
        if df is None:
            schema = self._schema_cache.get(path)
            reader = self.spark.read
            try:
                if schema is not None:
                    reader = reader.schema(schema)
                df = reader.parquet(path)
            except Exception:
                # dirs whose batches were all empty hold no part files, so
                # schema inference fails — semantically an empty dataset
                # (not cached: a later batch may add the first part file)
                return None
            self._ds_cache[path] = df
            self._schema_cache[path] = df.schema
        return df

    def sync_tombstones(self) -> None:
        """Cross-instance delete visibility on a cheap signal: one
        listing of the tiny ``deletes/`` dataset (bounded by delete_ids
        calls since the last compact) compared against the signature
        captured when the cached tombstone frame was built; a mismatch
        drops just that cache. Called once per apply_batch, so a
        long-lived WRITER (the streaming sinks hold one instance for the
        stream's lifetime) observes delete_ids issued through other
        instances at its next micro-batch. Plain READERS may serve a
        cached tombstone set until ``refresh`` — which guarantees the
        next read observes the delete."""
        if self._tomb_cache == "unset":
            return
        if (
            fs_storage.dir_signature(self.spark, self.deletes_path)
            != self._tomb_sig
        ):
            if isinstance(self._tomb_cache, DataFrame):
                self._tomb_cache.unpersist()
            self._tomb_cache = "unset"

    # -- applied-batch commit log ------------------------------------------

    def compacted_through(self) -> int:
        """Highest batch id folded into a compaction (-1 if never
        compacted) — batches at or below it lost their per-batch marker
        directories but are durably applied. Cached in the instance (it
        only moves when THIS instance compacts)."""
        if self._ct_cache is None:
            self._ct_cache = self._read_through(self.watermark_path)
        return self._ct_cache

    def _read_through(self, path: str) -> int:
        """The ``through`` batch id of a one-row watermark or marker
        dataset; -1 when it is missing."""
        if not fs_storage.path_exists(self.spark, path):
            return -1
        return int(self.spark.read.parquet(path).first()["through"])

    def _write_through(self, path: str, target: int) -> None:
        # driver-side one-row write (round 16), no Spark job
        fs_storage.write_small_parquet(
            self.spark, path,
            [(int(target),)], [("through", "int64")], overwrite=True,
        )

    def _batch_ids(self, path: str) -> List[int]:
        """Batch ids of a per-batch dataset's ``batch_id=N`` directories."""
        return [
            int(d.split("=", 1)[1])
            for d in fs_storage.list_dirs(self.spark, path)
            if d.startswith("batch_id=")
        ]

    def applied_set(self) -> set:
        """Batch ids above the compaction watermark that durably
        committed. One cached read of the ``applied_log`` manifest
        (O(1) metadata ops per probe, independent of uncompacted-batch
        count); a legacy index without a log falls back to one _SUCCESS
        directory scan of the legacy-marker dataset."""
        if self._applied_cache is not None:
            return self._applied_cache[0]
        through = self.compacted_through()
        logged = manifest.read_log(self.spark, self.applied_log_path)
        if logged is None:
            # require every per-batch dataset's marker, not just the
            # serially-last-written one: a crashed CONCURRENT commit
            # (round 16+) can leave any directory subset (round 17,
            # ADVICE — intersection keeps a partial batch un-applied)
            s = manifest.legacy_scan(
                self.spark, self.datasets[0], through,
                require_all=self.datasets[1:],
            )
            self._applied_cache = (s, False)
        else:
            s = {b for b in logged if b > through}
            self._applied_cache = (s, True)
        return s

    def ensure_log(self) -> None:
        """Materialize the applied-log manifest (with the legacy-scan
        backfill) if this index predates it or is brand new — round 16:
        an apply_batch whose dataset writes run CONCURRENTLY breaks the
        legacy fallback's "last-written dataset is the marker"
        assumption, so the log must exist before the first such commit.
        One driver-side file create, once per index lifetime."""
        s = self.applied_set()
        if not self._applied_cache[1]:
            manifest.ensure(self.spark, self.applied_log_path, s)
            # flip the log-backed bit only after the log actually READS
            # (round 17, ADVICE): if the backfill write raced a torn
            # state, the next commit retries it instead of the cache
            # claiming a log that read_log would reject
            if manifest.read_log(
                self.spark, self.applied_log_path
            ) is not None:
                self._applied_cache = (s, True)

    def log_applied(self, batch_id: int) -> None:
        """Record a completed commit in the manifest (backfilling a
        legacy index's applied set on the first logged batch)."""
        s = self.applied_set()
        new = {int(batch_id)}
        if not self._applied_cache[1]:
            new |= s
        manifest.append(self.spark, self.applied_log_path, new)
        self._applied_cache = (s | {int(batch_id)}, True)

    def batch_applied(self, batch_id: int) -> bool:
        """A batch is durably applied iff it is at or below the
        compaction watermark or recorded in the ``applied_log`` manifest
        (appended after the last dataset write, so an entry witnesses a
        complete commit). A crash between the final write and the log
        append reads as not-applied: the replay re-commits byte-identical
        directories and then logs — exactly-once output is preserved."""
        if int(batch_id) <= self.compacted_through():
            return True
        return int(batch_id) in self.applied_set()

    def applied_cond(self):
        """Predicate selecting rows of durably-applied batches: batch_id
        at or below the compaction watermark (those dirs may have been
        folded, e.g. the pairs log keeps per-batch dirs compaction never
        rewrites), or recorded in the applied-log manifest. Costs zero
        FS ops on a warm instance (both inputs are cached)."""
        through = self.compacted_through()
        marked = [str(b) for b in self.applied_set()]
        return (F.col("batch_id").cast("long") <= F.lit(through)) | (
            F.col("batch_id").isin(marked)
        )

    def live(self, path: str, *cols: str) -> DataFrame:
        """``cols`` of every applied, undeleted row of a dataset."""
        return self.minus_deleted(
            self.spark.read.parquet(path)
            .filter(self.applied_cond())
            .select(*cols)
        )

    # -- lease-fenced exactly-once commit ----------------------------------

    def _unleased(self) -> bool:
        return getattr(self.owner, "_lease_depth", 0) == 0

    def open_batch(self) -> Optional[str]:
        """Entry half of an apply_batch: lease probe and fence capture,
        crash recovery, tombstone re-sync. Returns the fence token
        :meth:`commit_batch` re-verifies."""
        # round 11 entry probe + round 12 fence capture: the token is
        # re-verified just before the applied-log append, so maintenance
        # acquiring mid-batch aborts the commit loudly (lease.py) and
        # the batch stays replayable. Token FIRST, held-probe second
        # (round 13): an acquire between the two reads then bumps the
        # token after the capture and the commit check aborts, instead
        # of the batch capturing the post-bump token and committing
        # inside the maintenance window. One or two small-file reads per
        # batch: apply_batch cadence, not row cadence.
        fence = None
        if self._unleased():
            fence = lease.fence_token(self.spark, self.root)
            lease.refuse_if_held(self.spark, self.root, "apply_batch")
        self.owner._recover_compaction()
        self.sync_tombstones()
        return fence

    def commit_batch(self, batch_id: int, fence: Optional[str]) -> None:
        """Commit half: after every dataset write, re-verify the fence
        (a maintenance window that OPENED while the batch was mid-flight
        aborts it with :class:`lease.LeaseHeldError`; its directories are
        replay-overwritten byte-identically later), then append the
        applied-log entry that makes the batch durable."""
        if self._unleased():
            lease.verify_commit_fence(
                self.spark, self.root, fence, "apply_batch"
            )
        self.log_applied(int(batch_id))

    # -- config pin --------------------------------------------------------

    def read_meta(self) -> dict:
        return json.loads(
            self.spark.read.parquet(self.meta_path).first()["config"]
        )

    def write_meta(self, **extra) -> None:
        # driver-side one-row write (round 16) — same crash window as the
        # job-based mode("overwrite") (delete, then write), minus a full
        # Spark job submit per index creation
        fs_storage.write_small_parquet(
            self.spark, self.meta_path,
            [(json.dumps({**self.owner._config(), **extra}),)],
            [("config", "string")], overwrite=True,
        )

    def check_meta(self, immutable: str, **legacy) -> None:
        """Validate the owner's config against the ``meta`` row once per
        instance, pinning it when absent. ``legacy``: the value a key
        missing from an older row stands for. A stored ``version`` (the
        vector quantizer's) is not a param and is not compared."""
        if self.meta_checked:
            return
        cfg = self.owner._config()
        if fs_storage.path_exists(self.spark, self.meta_path):
            stored = {**legacy, **self.read_meta()}
            stored.pop("version", None)
            if stored != cfg:
                raise ValueError(
                    f"index at {self.root} was built with {stored}, got "
                    f"{cfg} — {immutable}"
                )
        else:
            self.write_meta()
        self.meta_checked = True

    # -- merge-on-read deletes ---------------------------------------------

    def _id_frame(self, ids) -> Optional[DataFrame]:
        """Distinct one-column ``id`` frame from a list or a one-column
        DataFrame; None for an empty list."""
        if isinstance(ids, DataFrame):
            return ids.toDF("id").distinct()
        if not ids:
            return None
        return self.spark.createDataFrame([(i,) for i in ids], ["id"]).distinct()

    def delete_ids(self, ids) -> int:
        """Append tombstones; returns the number appended."""
        # round 11: refuse new writes while a maintenance writer
        # holds the root's lease (lease.py) — maintenance renames
        # live datasets aside; a batch landing mid-swap could be
        # orphaned. One small-file read per batch.
        if self._unleased():
            lease.refuse_if_held(self.spark, self.root, "delete_ids")
        if isinstance(ids, DataFrame):
            df = self._id_frame(ids)
            df.repartition(1).write.mode("append").parquet(self.deletes_path)
            n = df.count()
        else:
            # a list is deduped here and appended as one driver-side
            # parquet file (storage.write_small_parquet) — no Spark job
            uniq = list(dict.fromkeys(ids))
            if not uniq:
                return 0
            fs_storage.write_small_parquet(
                self.spark, self.deletes_path, [(i,) for i in uniq],
                [("id", _id_type(uniq))],
            )
            n = len(uniq)
        self.invalidate()
        return n

    def tombstones(self) -> Optional[DataFrame]:
        if self._tomb_cache != "unset":
            return self._tomb_cache
        self._tomb_sig = fs_storage.dir_signature(self.spark, self.deletes_path)
        if self._tomb_sig is None:
            self._tomb_cache = None
            return None
        try:
            tomb = self.spark.read.parquet(self.deletes_path).select("id")
            # materialized once: every probe's anti-join re-reads the
            # tombstone parquet otherwise — one fixed read per action
            tomb = tomb.persist()
            tomb.count()
        except Exception:
            tomb = None
        self._tomb_cache = tomb
        return tomb

    def minus_deleted(self, df: DataFrame) -> DataFrame:
        tomb = self.tombstones()
        if tomb is None:
            return df
        return df.join(F.broadcast(tomb), "id", "left_anti")

    # -- rename-aside swaps and crash recovery -----------------------------

    def recover(self) -> None:
        """Restore every dataset a crash left aside between a swap's two
        renames (:func:`storage.restore_aside`, the same protocol as the
        feature-store compaction), then finish a marker-committed pairs
        fold. The owner's ``_recover_compaction`` runs this before
        finishing a committed rebuild."""
        for path in self._swapped:
            fs_storage.restore_aside(self.spark, path)
        if self.pairs_path is not None:
            self.finish_pairs_fold()

    # -- compaction --------------------------------------------------------

    def fold_targets(self) -> list:
        """Applied batch ids eligible for folding — the compaction/
        rebuild source set. Raises if an UNAPPLIED batch directory sits
        below the fold target: folding would advance the watermark over
        it and its replay would then be skipped as already-applied
        (impossible under in-order streaming, where the only crashed
        batch is the latest; a manual out-of-order apply_batch must be
        replayed or its directories deleted first).

        The scan covers EVERY per-batch dataset. Round 10: a batch that
        crashed after its pairs write but before any other dataset write
        leaves a pairs-only directory no marker-dataset scan can see;
        letting the watermark advance over it would make a later
        compact_pairs() fold those phantom pairs into ``pairs_hist``
        permanently (and skip the batch's replay) — so it is refused
        here, while the applied log still has per-batch fidelity. Round
        16: an apply_batch whose writes run concurrently can leave any
        subset of its datasets' directories, not just a prefix of a
        serial order; the refusal must see every shape. The same holds
        for a serial writer that crashed between its first and last
        write (the text index's postings-only directory)."""
        return self._applied_of(self._batch_dirs())

    def _batch_dirs(self) -> List[List[int]]:
        """The batch ids of each of ``datasets``, in that order."""
        return [self._batch_ids(path) for path in self.datasets]

    def _applied_of(self, dirs: List[List[int]]) -> list:
        """:meth:`fold_targets` over the listings ``dirs``."""
        through = self.compacted_through()
        marked = self.applied_set()
        applied = [b for b in dirs[0] if b <= through or b in marked]
        unapplied = sorted(
            b
            for b in set().union(*dirs)
            if not (b <= through or b in marked)
        )
        if applied and unapplied and min(unapplied) < max(applied):
            raise ValueError(
                f"batch dirs {unapplied} at {self.root} never durably "
                f"committed but sit below the fold target {max(applied)}"
                " — replay them (or delete their directories) before "
                f"compact/{self.op}"
            )
        return applied

    def fold_target(self) -> int:
        """The batch id a rebuild folds every applied batch into."""
        applied = self.fold_targets()
        if not applied:
            raise ValueError(f"no index at {self.root}")
        return max(applied)

    def write_folded(
        self, df: DataFrame, dest: str, target: int, part_cols=(),
        by=None, sort: Optional[str] = None,
    ) -> None:
        """Write ``df`` as the single ``batch_id=target`` directory tree
        of a folded dataset at ``dest``, partitioned by ``part_cols``
        (``by`` overrides the repartition expressions; ``sort`` adds
        row-group locality)."""
        out = df.withColumn("batch_id", F.lit(str(target))).repartition(
            *(by or [F.col(c) for c in part_cols])
        )
        if sort is not None:
            out = out.sortWithinPartitions(sort)
        out.write.partitionBy("batch_id", *part_cols).mode(
            "overwrite"
        ).parquet(dest)

    def swap_folded(
        self, path: str, df: DataFrame, target: int, part_cols=(), by=None,
    ) -> None:
        """Compaction's per-dataset step: stage the fold, then swap it
        in rename-aside."""

        def stage(staging: str) -> None:
            self.write_folded(df, staging, target, part_cols, by)
            # staging done — extend the lease before each swap (round 12)
            lease.renew_active(self.owner)

        fs_storage.replace_dir(self.spark, path, ".__compact__", stage)

    def compact(self, fold: Callable[[int], None]) -> int:
        """Fold every applied batch's directories into one and drop
        tombstoned rows physically; ``fold(target)`` rewrites the owner's
        datasets through :meth:`swap_folded`. Returns the number of
        batch directories removed (0 = nothing to do).

        **Run quiesced** (stream stopped), like the feature-store
        compaction: concurrent writers could land a batch in a directory
        that gets renamed aside (the maintenance lease enforces it).
        Crash safety: the applied watermark advances FIRST (it only
        asserts what is already true), each dataset then swaps via the
        rename-aside protocol, and every public entry point restores a
        half-swapped dataset before touching anything. The pairs log is
        untouched — it is the per-batch OUTPUT record, not probe state
        (:meth:`compact_pairs` folds it)."""
        self.owner._recover_compaction()
        applied = self.fold_targets()
        if not applied or (len(applied) <= 1 and self.tombstones() is None):
            return 0
        target = max(applied)
        # the watermark only ever asserts what is already true, so it is
        # always written FIRST
        self._write_through(self.watermark_path, target)
        # fold's applied-only reads still see the PRE-advance watermark:
        # the write above leaves the cached value alone
        fold(target)
        # tombstones are physically applied now; clearing them LAST keeps
        # any crash window correct (rows gone + tombstones present is a
        # harmless no-op anti-join)
        fs_storage.delete_path(self.spark, self.deletes_path)
        manifest.reset(self.spark, self.applied_log_path, int(target))
        self.invalidate()
        self._ct_cache = int(target)
        self._applied_cache = (set(), True)
        return len(applied) - 1

    # -- parameter rebuild -------------------------------------------------

    def staged(self, path: str) -> str:
        """Staging location of a dataset a rebuild rewrites."""
        return path.rstrip("/") + f".__{self.op}__"

    def commit_rebuild(self, target: int, **extra) -> None:
        """Commit a fully staged rebuild: the watermark, then the intent
        marker carrying the owner's (new) config and ``extra`` int
        columns. The owner then calls its ``_recover_*`` hook, which
        finishes the swaps through :meth:`finish_rebuild`."""
        # staging (the hours-at-scale phase) is done — extend the lease
        # before committing, so a run slower than the TTL still swaps
        # under a live lease (round 12; raises BEFORE mutating if the
        # lease was already lost to takeover)
        lease.renew_active(self.owner)
        # watermark first (it only asserts what is already true), then the
        # intent marker makes the staged rebuild the committed state —
        # driver-side one-row writes (round 16), same crash windows as the
        # job form
        self._write_through(self.watermark_path, target)
        fs_storage.write_small_parquet(
            self.spark, self.marker_path,
            [(*[int(v) for v in extra.values()],
              json.dumps(self.owner._config()))],
            [(k, "int64") for k in extra] + [("config", "string")],
            overwrite=True,
        )

    def finish_rebuild(self) -> bool:
        """Finish a rebuild whose intent marker committed — the staged
        datasets are complete, so the swaps, meta write, and cleanup
        replay safely from any crash point. The marker carries the
        rebuild's CONFIG, so even an instance constructed with the
        pre-rebuild params writes the correct meta and adopts the new
        ones (tombstones were folded out of the staging, so they clear).
        Returns whether a marker was finished."""
        if not fs_storage.path_exists(self.spark, self.marker_path):
            return False
        marker = self.spark.read.parquet(self.marker_path).first().asDict()
        for path in self.rebuilt:
            fs_storage.swap_in(self.spark, path, self.staged(path))
        try:
            cfg = json.loads(marker.pop("config"))
        except (TypeError, ValueError):
            cfg = {}
        for key in self.owner._config():
            if key in cfg:
                setattr(self.owner, key, cfg[key])
        self.write_meta(**marker)
        fs_storage.delete_path(self.spark, self.deletes_path)
        fs_storage.delete_path(self.spark, self.marker_path)
        self.invalidate()
        self.meta_checked = False
        manifest.reset(
            self.spark, self.applied_log_path, self.compacted_through()
        )
        self._applied_cache = (set(), True)
        return True

    # -- pairs log ---------------------------------------------------------

    def _as_pairs(self, df: DataFrame) -> DataFrame:
        """The pairs columns of a live pairs-log read, its partition
        ``batch_id`` cast to the history's long data column."""
        return df.select(
            *self.pairs_cols[:-1],
            F.col("batch_id").cast("long").alias("batch_id"),
        )

    def _pairs_hist(self) -> Optional[DataFrame]:
        """The folded history; None before the first fold."""
        if not fs_storage.path_exists(self.spark, self.pairs_hist_path):
            return None
        try:
            return self.spark.read.parquet(self.pairs_hist_path).select(
                *self.pairs_cols
            )
        except Exception:
            return None

    def _pairs_folded(self) -> int:
        """Highest batch id folded into ``pairs_hist`` (-1 if never);
        cached — it only moves when this instance folds."""
        if self._pf_cache is None:
            self._pf_cache = self._read_through(self.pairs_folded_path)
        return self._pf_cache

    def pairs(self) -> DataFrame:
        """Accumulated pairs with their batch_id over all APPLIED
        batches (empty long-id frame if no batch ever produced a pair).
        Pairs are written before the applied marker, so an in-flight or
        crashed batch's pairs are filtered out here — they reappear,
        byte-identical, once its replay commits. Batches folded by
        :meth:`compact_pairs` read from the consolidated history dataset
        (batch_id preserved as a data column — same rows, same schema).

        Recovery (incl. finishing a marker-committed fold) runs on the
        COLD read only — the fold watermark cache doubles as the
        checked-flag, so warm repeated pairs() reads cost zero extra FS
        ops, and every mutating op invalidates the cache and re-arms
        the check."""
        if self._pf_cache is None:
            self.owner._recover_compaction()
        folded = self._pairs_folded()
        cond = self.applied_cond()
        out = self._pairs_hist()
        try:
            live = self.spark.read.parquet(self.pairs_path)
        except Exception:
            live = None
        if live is not None:
            # folded rows are applied by construction; live directories
            # above the fold watermark filter through the applied set
            live = self._as_pairs(
                live.filter(F.col("batch_id").cast("long") > folded)
                .filter(cond)
            )
            out = live if out is None else out.unionByName(live)
        if out is None:
            return self.spark.createDataFrame([], self.pairs_ddl)
        return out

    def compact_pairs(self) -> int:
        """Fold the pairs log's per-batch directories at or below the
        compaction watermark into ``pairs_hist`` (batch_id kept as a
        data column — :meth:`pairs` output is bit-identical). Bounds the
        pairs-read listing to the batches since the last fold, the same
        O(batches) metadata term the applied-log manifest removed from
        the probe path; :meth:`compact` leaves the pairs log alone
        precisely so per-batch provenance survives, and this fold keeps
        that provenance while dropping the directory-per-batch layout.
        Marker-committed and crash-finishable (module docstring);
        **run quiesced**, like compact. Returns directories folded."""
        # recovery finishes a marker-committed fold first
        self.owner._recover_compaction()
        # validates that no phantom (pairs-only, never-committed) batch
        # dir sits below the fold target — folding it into pairs_hist
        # would be permanent (round 10, defense-in-depth: compact()
        # refuses to advance the watermark over one in the first place);
        # its listing of pairs/ (the last dataset) is the fold's listing
        dirs = self._batch_dirs()
        self._applied_of(dirs)
        n = self._fold_pairs(self.compacted_through(), dirs[-1])
        self._pf_cache = None
        return n

    def _fold_pairs(self, target: int, batch_ids: List[int]) -> int:
        """Fold the live batch dirs ``batch_ids`` with folded < batch_id
        <= ``target`` (the compaction watermark — at or below it every
        batch is applied by definition) into the history. Returns the
        number folded."""
        if not batch_ids:
            return 0
        already = self._pairs_folded()
        moved = [b for b in batch_ids if already < b <= int(target)]
        if not moved:
            return 0
        live = self._as_pairs(
            self.spark.read.parquet(self.pairs_path).filter(
                F.col("batch_id").cast("long").isin(moved)
            )
        )
        hist = self._pairs_hist()
        staged = live if hist is None else hist.unionByName(live)
        fs_storage.delete_path(self.spark, self.pairs_fold_staging)
        staged.write.mode("overwrite").parquet(self.pairs_fold_staging)
        self._write_through(self.pairs_fold_marker_path, target)
        self.finish_pairs_fold()
        return len(moved)

    def finish_pairs_fold(self) -> bool:
        """Finish a fold whose intent marker committed: swap the staged
        history in, advance the ``pairs_folded`` watermark, delete the
        moved live directories, drop the marker. Idempotent; returns
        whether a fold was finished."""
        target = self._read_through(self.pairs_fold_marker_path)
        if target < 0:  # no marker (a committed fold moves batch ids >= 0)
            return False
        fs_storage.swap_in(
            self.spark, self.pairs_hist_path, self.pairs_fold_staging
        )
        self._write_through(self.pairs_folded_path, target)
        for d in fs_storage.list_dirs(self.spark, self.pairs_path):
            if d.startswith("batch_id=") and int(d.split("=", 1)[1]) <= target:
                fs_storage.delete_path(
                    self.spark, fs_storage.join(self.pairs_path, d)
                )
        fs_storage.delete_path(self.spark, self.pairs_fold_marker_path)
        self._pf_cache = None
        return True

    def _drop_ids(self, pairs: DataFrame, tomb: DataFrame) -> DataFrame:
        """``pairs`` without every pair touching a tombstoned id."""
        return pairs.join(
            F.broadcast(tomb.select(F.col("id").alias("id_a"))),
            "id_a", "left_anti",
        ).join(
            F.broadcast(tomb.select(F.col("id").alias("id_b"))),
            "id_b", "left_anti",
        )

    def scrub_pairs(self, ids) -> int:
        """GDPR-complete removal from the pairs LOG: rewrite it dropping
        every pair touching ``ids`` (a list or one-column DataFrame).

        delete_ids + compact remove a document's index rows, but the
        pairs log is ordinarily an immutable historical record — a
        right-to-be-forgotten request must also scrub the pairs that
        mention the id. One filtered rewrite each of the history and of
        the live log (per-batch directory layout preserved), swapped in
        with the rename-aside protocol (crash-recoverable; run quiesced,
        like compact). Returns the number of pair rows dropped."""
        tomb = self._id_frame(ids)
        if tomb is None:
            return 0
        self.owner._recover_compaction()
        dropped = 0
        hist = self._pairs_hist()
        if hist is not None:
            before = hist.count()
            fs_storage.replace_dir(
                self.spark, self.pairs_hist_path, ".__scrub__",
                lambda staging: self._drop_ids(hist, tomb)
                .write.mode("overwrite").parquet(staging),
            )
            after = self._pairs_hist()
            dropped = before - (0 if after is None else after.count())
        if not fs_storage.path_exists(self.spark, self.pairs_path):
            return dropped
        try:
            pairs = self.spark.read.parquet(self.pairs_path)
        except Exception:
            return dropped
        before = pairs.count()
        fs_storage.replace_dir(
            self.spark, self.pairs_path, ".__scrub__",
            lambda staging: self._drop_ids(pairs, tomb).write
            .partitionBy("batch_id").mode("overwrite").parquet(staging),
        )
        try:
            after = self.spark.read.parquet(self.pairs_path).count()
        except Exception:
            after = 0  # every batch dir emptied
        return dropped + before - after
