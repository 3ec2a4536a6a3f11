"""Snapshot-isolated table layer (Iceberg-shaped) over parquet.

The north rule asks for an *Iceberg* metrics/lineage table: a killed job
must resume from the **last committed snapshot**, never observing a
half-written append. Plain ``mode("append")`` parquet cannot give that —
a reader that lists the directory mid-write sees orphan part files. This
module implements the minimal table-format core that does, following the
public Iceberg spec's shape (spec v2, https://iceberg.apache.org/spec/):

* **data files** — immutable parquet written by Spark under
  ``data/<commit-uuid>/``; a writer never touches another commit's files.
* **manifest files** — one JSON per commit listing ONLY that commit's
  data files with per-file ``row_count`` / ``byte_size`` and per-column
  min/max stats lifted from the parquet footers. Commit cost is O(new
  files) metadata, independent of table size — the property that keeps
  appends viable at 10^12 rows / millions of files.
* **snapshot files** — ``snap-<seq>.json`` holding the manifest *list*
  (parent's manifests + the new one) plus schema and lineage (parent
  pointer, operation). Published by hard-linking a fully-written temp
  file onto the fixed per-sequence name: the link IS the commit
  (and a visible snap file is therefore always complete), doubling as the
  optimistic-concurrency CAS — two racing writers produce one winner and
  one ``CommitConflict`` (append-only commits simply retry on a fresh
  sequence number; nothing they wrote needs rewriting). On object
  stores without atomic create, swap this one primitive for a catalog
  CAS (the Iceberg catalog's role); everything else is unchanged.
* **version-hint.text** — an advisory pointer to the latest sequence,
  swapped in with atomic tmp+rename (the same durability trick as the
  reference's progress flush, downloader/progress.py:105-123). Readers
  start from the hint and roll *forward* while ``snap-<seq+1>`` exists,
  so a stale hint (crash between snapshot create and hint swap) is
  harmless.

Readers plan a scan from a snapshot's manifest list only — uncommitted
data directories are invisible by construction, which is exactly the
resume guarantee: ``SnapshotMetricsStore`` (below) routes the lineage
appends through this table, so cells whose metrics append didn't commit
are re-processed, never silently skipped.

Scan planning prunes at two levels before Spark ever runs: whole files
drop when their manifest min/max misses the requested key ranges (pair
with ``operators/layout.py::cluster_by_space`` — Z-order-sorted files
have tight disjoint ``morton_key`` stats, so a bbox touches few files),
and the surviving files still carry row-group stats for the engine's
normal pushdown. ``compact_manifests`` folds the O(#commits) manifest
list back to one file; ``expire_snapshots`` garbage-collects data files
no retained snapshot references.

Everything here is driver-side *metadata* work (list/footer reads on a
few new files per commit); the data path stays pure Spark.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tilegrab_spark.plans.lineage import METRICS_SCHEMA, MetricsStore, _stage_metrics


class CommitConflict(RuntimeError):
    """Another writer committed the same sequence number first."""


class SnapshotNotFound(LookupError):
    pass


def _atomic_write_text(path: str, text: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _jsonable(v):
    """Parquet footer stats → JSON-safe scalars (bytes → utf-8/hex)."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.meta_dir = os.path.join(root, "metadata")

    # ---------------------------------------------------------------- reads

    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.text")

    def _snap_path(self, seq: int) -> str | None:
        path = os.path.join(self.meta_dir, f"snap-{seq:08d}.json")
        return path if os.path.isfile(path) else None

    def current_seq(self) -> int:
        """Latest committed sequence (0 = empty table). Starts at the
        advisory hint and rolls forward — the snap file, not the hint,
        is the source of truth."""
        seq = 0
        try:
            with open(self._hint_path()) as f:
                seq = int(f.read().split()[0])
        except (OSError, ValueError, IndexError):
            seq = 0
        if seq and self._snap_path(seq) is None:
            seq = 0  # hint ahead of a crashed commit — rewind and roll forward
        while self._snap_path(seq + 1) is not None:
            seq += 1
        return seq

    def _load_snapshot(self, seq: int) -> dict:
        path = self._snap_path(seq)
        if path is None:
            raise SnapshotNotFound(f"no snapshot with seq={seq} under {self.meta_dir}")
        with open(path) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """Commit history, oldest first (seq, snapshot_id, operation,
        n_manifests, parent_seq)."""
        out = []
        for seq in range(1, self.current_seq() + 1):
            try:
                s = self._load_snapshot(seq)
            except SnapshotNotFound:
                continue  # expired below the retention horizon
            out.append(
                {
                    "seq": s["seq"],
                    "snapshot_id": s["snapshot_id"],
                    "operation": s["operation"],
                    "parent_seq": s["parent_seq"],
                    "n_manifests": len(s["manifests"]),
                    "summary": s.get("summary", {}),
                }
            )
        return out

    def _manifest_entries(self, snap: dict) -> list[dict]:
        """All file entries of a snapshot, annotated with ``_seq`` (the
        commit the file FIRST appeared in — per-entry ``seq`` written by
        compaction/kept-manifests wins over the manifest's map; legacy
        snapshots without a map default to 0 = oldest) and with data
        entries separated from merge-on-read delete entries by their
        ``content`` field (absent = data)."""
        mseqs = snap.get("manifest_seqs", {})
        files: list[dict] = []
        for mname in snap["manifests"]:
            with open(os.path.join(self.meta_dir, mname)) as f:
                for e in json.load(f)["files"]:
                    e = dict(e)
                    e["_seq"] = e.get("seq", mseqs.get(mname, 0))
                    files.append(e)
        return files

    @staticmethod
    def _split_entries(entries: list[dict]) -> tuple[list[dict], list[dict]]:
        data = [e for e in entries if e.get("content", "data") == "data"]
        dels = [e for e in entries if e.get("content") == "deletes"]
        return data, dels

    def scan_files(
        self,
        *,
        as_of: int | None = None,
        key_col: str | None = None,
        key_ranges: list[tuple[int, int]] | None = None,
    ) -> list[dict]:
        """Plan a scan: manifest entries surviving min/max pruning.
        ``key_ranges`` are inclusive [lo, hi] pairs (e.g. from
        ``layout.morton_ranges_for_bbox``); a file is kept unless its
        recorded [min, max] for ``key_col`` misses every range. Files
        with no stats for the column are conservatively kept."""
        seq = self.current_seq() if as_of is None else as_of
        if seq == 0:
            return []
        entries, _ = self._split_entries(
            self._manifest_entries(self._load_snapshot(seq))
        )
        if not key_ranges or not key_col:
            return entries
        kept = []
        for e in entries:
            st = e.get("stats", {}).get(key_col)
            if not st or st[0] is None or st[1] is None:
                kept.append(e)
                continue
            fmin, fmax = st
            if any(not (fmax < lo or fmin > hi) for lo, hi in key_ranges):
                kept.append(e)
        return kept

    def schema(self, *, as_of: int | None = None) -> StructType | None:
        seq = self.current_seq() if as_of is None else as_of
        if seq == 0:
            return None
        return StructType.fromJson(json.loads(self._load_snapshot(seq)["schema"]))

    def read(
        self,
        *,
        as_of: int | None = None,
        key_col: str | None = None,
        key_ranges: list[tuple[int, int]] | None = None,
    ) -> DataFrame:
        """Read the table at a snapshot (default: latest). Only files in
        the snapshot's manifests are scanned — concurrent or crashed
        writers' data directories are invisible. Merge-on-read delete
        tombstones (``delete_rows(mode="mor")``) are applied here:
        a tombstone removes matching-key rows from data files committed
        STRICTLY BEFORE it (Iceberg sequence semantics — re-appending a
        deleted key makes it visible again)."""
        entries = self.scan_files(as_of=as_of, key_col=key_col, key_ranges=key_ranges)
        schema = self.schema(as_of=as_of)
        if not entries:
            if schema is None:
                raise SnapshotNotFound(f"empty table at {self.root}")
            return self.spark.createDataFrame([], schema)
        seq = self.current_seq() if as_of is None else as_of
        _, dels = self._split_entries(
            self._manifest_entries(self._load_snapshot(seq))
        )
        if not dels:
            paths = [os.path.join(self.root, e["path"]) for e in entries]
            # Pin the snapshot schema so late schema evolution can't leak
            # into a time-travel read via parquet schema merging.
            return self.spark.read.schema(schema).parquet(*paths)

        # group data files by commit seq (a handful of groups — bounded
        # by commit count, collapsed by compaction) so each row carries
        # its file's seq as a literal, then one anti-join per scan:
        # keys equal AND tombstone newer than the row's file.
        key_cols = tuple(dels[0]["key_cols"])
        by_seq: dict[int, list[str]] = {}
        for e in entries:
            by_seq.setdefault(int(e["_seq"]), []).append(
                os.path.join(self.root, e["path"])
            )
        data = None
        for s, paths in sorted(by_seq.items()):
            part = self.spark.read.schema(schema).parquet(*paths).withColumn(
                "_dseq", F.lit(s)
            )
            data = part if data is None else data.unionByName(part)
        dby_seq: dict[int, list[str]] = {}
        for e in dels:
            dby_seq.setdefault(int(e["_seq"]), []).append(
                os.path.join(self.root, e["path"])
            )
        del_df = None
        for s, paths in sorted(dby_seq.items()):
            part = self.spark.read.parquet(*paths).withColumn("_tseq", F.lit(s))
            del_df = part if del_df is None else del_df.unionByName(part)
        d = del_df.select(
            *[F.col(k).alias(f"_t_{k}") for k in key_cols], "_tseq"
        ).distinct()
        cond = F.lit(True)
        for k in key_cols:
            cond = cond & (F.col(k) == F.col(f"_t_{k}"))
        cond = cond & (F.col("_tseq") > F.col("_dseq"))
        return data.join(F.broadcast(d), on=cond, how="left_anti").drop("_dseq")

    # --------------------------------------------------------------- writes

    def _footer_stats(self, fpath: str, stat_cols: tuple[str, ...]) -> tuple[int, dict]:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(fpath).metadata
        names = {md.schema.column(i).name: i for i in range(len(md.schema))}
        stats: dict[str, list] = {}
        for col in stat_cols:
            ci = names.get(col)
            if ci is None:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(ci).statistics
                if s is None or not s.has_min_max:
                    lo = hi = None
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            if lo is not None:
                stats[col] = [_jsonable(lo), _jsonable(hi)]
        return md.num_rows, stats

    def _write_data(self, df: DataFrame, stat_cols: tuple[str, ...]) -> str:
        """Write data files for one commit; return the manifest name.
        NOT yet visible — only the snapshot commit publishes it."""
        commit_id = uuid.uuid4().hex[:16]
        out = os.path.join(self.data_dir, commit_id)
        df.write.mode("error").parquet(out)
        files = []
        for name in sorted(os.listdir(out)):
            if not name.endswith(".parquet"):
                continue
            fpath = os.path.join(out, name)
            rows, stats = self._footer_stats(fpath, stat_cols)
            files.append(
                {
                    "path": os.path.join("data", commit_id, name),
                    "row_count": rows,
                    "byte_size": os.path.getsize(fpath),
                    "stats": stats,
                }
            )
        os.makedirs(self.meta_dir, exist_ok=True)
        mname = f"manifest-{commit_id}.json"
        _atomic_write_text(
            os.path.join(self.meta_dir, mname), json.dumps({"files": files})
        )
        return mname

    def _commit(
        self,
        manifests: list[str],
        schema_json: str,
        operation: str,
        summary: dict | None = None,
        manifest_seqs: dict | None = None,
    ) -> int:
        """CAS-commit a snapshot on the next sequence number.

        ``manifest_seqs`` records the sequence number each manifest was
        FIRST committed at (inherited manifests keep their original
        seq; manifests absent from the map are new and get this commit's
        seq). This is what scopes merge-on-read delete files: a delete
        tombstone applies only to data committed strictly BEFORE it."""
        parent = self.current_seq()
        seq = parent + 1
        mseqs = dict(manifest_seqs or {})
        for m in manifests:
            mseqs.setdefault(m, seq)
        snap = {
            "seq": seq,
            "snapshot_id": uuid.uuid4().hex,
            "parent_seq": parent or None,
            "operation": operation,
            "manifests": manifests,
            "manifest_seqs": {m: mseqs[m] for m in manifests},
            "schema": schema_json,
            "summary": {k: _jsonable(v) for k, v in (summary or {}).items()},
        }
        path = os.path.join(self.meta_dir, f"snap-{seq:08d}.json")
        # Write the complete json aside, then publish it with a hard
        # link: the link on the fixed per-seq name IS the commit CAS
        # (fails if the seq is taken), and a published snap file is
        # always complete — no torn-write state exists.
        tmp = f"{path}.w.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        finally:
            os.remove(tmp)
        _atomic_write_text(self._hint_path(), f"{seq}\n")
        return seq

    def append(
        self,
        df: DataFrame,
        *,
        stat_cols: tuple[str, ...] = (),
        max_retries: int = 5,
        summary: dict | None = None,
        allow_schema_evolution: bool = False,
    ) -> int:
        """Atomically append ``df`` as a new snapshot; returns its seq.
        Retries the (metadata-only) commit on concurrent-writer conflict
        — the data files written once stay valid across retries.
        ``summary`` rides the snapshot json (Iceberg-style commit
        summary: batch ids, operation tags) and surfaces in
        ``snapshots()``.

        ``allow_schema_evolution=True`` accepts a WIDENING schema: every
        existing column must keep its exact type; new columns are
        allowed and become the table schema from this snapshot on.
        Older data files read as NULL for the added columns (the read
        pins the snapshot schema, so time travel below this snapshot
        still shows the old shape). Type changes and column drops are
        rejected — a drop is a rewrite (``replace``), not an append."""
        return self._write_commit(
            df, "append", stat_cols=stat_cols, max_retries=max_retries,
            summary=summary, allow_schema_evolution=allow_schema_evolution,
        )

    def replace(
        self,
        df: DataFrame,
        *,
        stat_cols: tuple[str, ...] = (),
        max_retries: int = 5,
        summary: dict | None = None,
        expected_parent: int | None = None,
    ) -> int:
        """Commit ``df`` as the table's ENTIRE new content (prior files
        drop out of the live snapshot but stay time-travelable until
        ``expire_snapshots``). The compaction/rewrite primitive:
        fold-and-replace for delta tables whose merge is a real
        aggregation (register sums), where an append would double-count.

        ``expected_parent`` makes it a CAS: the commit fails with
        ``CommitConflict`` (never retries onto a newer head) if any
        other snapshot landed after that seq — so a rewrite computed
        FROM snapshot N can't silently erase a concurrent append N+1.
        """
        return self._write_commit(
            df, "replace", stat_cols=stat_cols, max_retries=max_retries,
            summary=summary, expected_parent=expected_parent,
        )

    @staticmethod
    def _durable_entry(e: dict) -> dict:
        """Entry dict for re-serialization into a new manifest: the
        runtime ``_seq`` annotation becomes the persisted per-entry
        ``seq`` (so provenance survives manifest folding)."""
        out = {k: v for k, v in e.items() if k != "_seq"}
        out["seq"] = int(e["_seq"])
        return out

    def _keep_manifest(self, entries: list[dict]) -> str:
        """Publish a manifest listing EXISTING (already-committed) data
        files verbatim — the kept side of a copy-on-write rewrite. The
        files are not touched; only their manifest membership moves."""
        mname = f"manifest-{uuid.uuid4().hex[:16]}.json"
        _atomic_write_text(
            os.path.join(self.meta_dir, mname),
            json.dumps({"files": [self._durable_entry(e) for e in entries]}),
        )
        return mname

    def merge_rows(
        self,
        updates: DataFrame,
        key_cols: tuple[str, ...],
        *,
        stat_cols: tuple[str, ...] = (),
        summary: dict | None = None,
        _deletes_only: bool = False,
    ) -> int:
        """Iceberg-shaped copy-on-write MERGE (upsert) keyed on
        ``key_cols``: rows in ``updates`` replace same-key rows; new
        keys insert. Only AFFECTED data files are rewritten — a file
        whose recorded [min, max] for any key column is provably
        disjoint from the updates' key envelope keeps its manifest
        entry verbatim (zero data movement for it); at 10^12 rows with
        key-clustered files (Z-order layout + ``stat_cols`` on the key)
        a point-update batch rewrites a handful of files, not the
        table. Files without key stats are conservatively rewritten —
        pass the key in ``stat_cols`` on every write to keep pruning
        effective.

        The commit is a CAS against the snapshot the merge was computed
        from: a concurrent commit raises ``CommitConflict`` (retrying a
        merge on a moved head must re-read, not re-link). ``updates``
        must be unique per key (keep-last upstream otherwise)."""
        parent = self.current_seq()
        if parent == 0:
            if _deletes_only:
                raise SnapshotNotFound(f"empty table at {self.root}")
            return self.append(updates, stat_cols=stat_cols, summary=summary)
        cur_schema = self.schema()
        if (
            not _deletes_only
            and updates.schema.simpleString() != cur_schema.simpleString()
        ):
            raise ValueError(
                f"schema mismatch merging into {self.root}: "
                f"{updates.schema.simpleString()} != {cur_schema.simpleString()}"
            )
        keys = updates.select(*key_cols).distinct()
        env = keys.agg(
            *[
                f
                for k in key_cols
                for f in (F.min(k).alias(f"_mn_{k}"), F.max(k).alias(f"_mx_{k}"))
            ]
        ).collect()[0]
        if all(env[f"_mn_{k}"] is None for k in key_cols):
            return parent  # empty updates: nothing to do
        entries, tombs = self._split_entries(
            self._manifest_entries(self._load_snapshot(parent))
        )
        if tombs:
            raise ValueError(
                f"{self.root} has merge-on-read delete tombstones; run "
                "materialize_deletes() before a copy-on-write merge"
            )
        affected, kept = [], []
        for e in entries:
            disjoint = False
            for k in key_cols:
                st = e.get("stats", {}).get(k)
                mn, mx = env[f"_mn_{k}"], env[f"_mx_{k}"]
                if st and st[0] is not None and mn is not None:
                    if st[1] < mn or st[0] > mx:
                        disjoint = True
                        break
            (kept if disjoint else affected).append(e)

        operation = "delete" if _deletes_only else "merge"
        new_df = None
        if affected:
            paths = [os.path.join(self.root, e["path"]) for e in affected]
            cur = self.spark.read.schema(cur_schema).parquet(*paths)
            new_df = cur.join(F.broadcast(keys), list(key_cols), "left_anti")
        if not _deletes_only:
            new_df = updates if new_df is None else new_df.unionByName(updates)
        if new_df is None:  # delete with zero affected files: no-op
            return parent

        mnames = [self._keep_manifest(kept)] if kept else []
        mnames.append(self._write_data(new_df, stat_cols))
        base_summary = {
            "files_kept": len(kept),
            "files_rewritten": len(affected),
            **(summary or {}),
        }
        if self.current_seq() != parent:
            raise CommitConflict(
                f"merge into {self.root} computed from snapshot {parent} "
                f"but head is now {self.current_seq()}"
            )
        try:
            return self._commit(
                mnames, json.dumps(cur_schema.jsonValue()), operation, base_summary
            )
        except FileExistsError:
            raise CommitConflict(
                f"merge into {self.root} lost the CAS race at seq {parent + 1}"
            )

    def delete_rows(
        self,
        keys: DataFrame,
        key_cols: tuple[str, ...],
        *,
        mode: str = "cow",
        stat_cols: tuple[str, ...] = (),
        summary: dict | None = None,
    ) -> int:
        """DELETE by key. ``keys`` needs only the key columns.

        ``mode="cow"``: file-pruned rewrite (same machinery as
        ``merge_rows``) — pay the rewrite now, reads stay scan-only.
        ``mode="mor"`` (merge-on-read): commit the keys as a TOMBSTONE
        file — O(keys) write regardless of table size, the right shape
        for high-frequency small deletes at 10^12 rows; ``read()``
        anti-joins tombstones against data files committed strictly
        before them (Iceberg sequence semantics: re-appending a deleted
        key makes it visible again), and ``materialize_deletes()``
        folds the debt back into scan-only reads."""
        if mode == "cow":
            return self.merge_rows(
                keys.select(*key_cols),
                key_cols,
                stat_cols=stat_cols,
                summary=summary,
                _deletes_only=True,
            )
        if mode != "mor":
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        parent = self.current_seq()
        if parent == 0:
            raise SnapshotNotFound(f"empty table at {self.root}")
        schema = self.schema()
        names = {f.name for f in schema.fields}
        missing = [k for k in key_cols if k not in names]
        if missing:
            raise ValueError(f"key cols {missing} not in table schema")
        prev = self._split_entries(
            self._manifest_entries(self._load_snapshot(parent))
        )[1]
        if prev and tuple(prev[0]["key_cols"]) != tuple(key_cols):
            raise ValueError(
                f"existing tombstones key on {prev[0]['key_cols']}; "
                "materialize_deletes() before changing the delete key"
            )
        mname = self._write_data(keys.select(*key_cols).distinct(), tuple(key_cols))
        # re-mark the freshly written entries as delete content
        mpath = os.path.join(self.meta_dir, mname)
        with open(mpath) as f:
            m = json.load(f)
        for e in m["files"]:
            e["content"] = "deletes"
            e["key_cols"] = list(key_cols)
        _atomic_write_text(mpath, json.dumps(m))
        psnap = self._load_snapshot(parent)
        if self.current_seq() != parent:
            raise CommitConflict(
                f"mor-delete on {self.root} computed from snapshot {parent} "
                f"but head is now {self.current_seq()}"
            )
        try:
            return self._commit(
                psnap["manifests"] + [mname],
                psnap["schema"],
                "delete-mor",
                {"tombstone_batches": len(m["files"]), **(summary or {})},
                manifest_seqs=psnap.get("manifest_seqs", {}),
            )
        except FileExistsError:
            raise CommitConflict(
                f"mor-delete on {self.root} lost the CAS race at seq {parent + 1}"
            )

    def compact_data_files(
        self,
        *,
        target_bytes: int = 128 * 1024 * 1024,
        stat_cols: tuple[str, ...] = (),
        sort_cols: tuple[str, ...] = (),
        summary: dict | None = None,
    ) -> int:
        """Rewrite the table's content into ~``target_bytes`` data files
        — the small-files answer (a streaming ingest or many tiny merges
        leave thousands of KB-sized files whose per-file open/footer
        cost dominates scans). Folds merge-on-read tombstones as a side
        effect (the rewrite IS a materialization). ``sort_cols`` re-
        clusters rows during the rewrite (e.g. the Morton key) so the
        new files regain tight min/max stats for pruning. CAS against
        the current snapshot; a no-op returns the current seq when the
        table already has no file smaller than ``target_bytes/2``."""
        if target_bytes <= 0:
            raise ValueError(f"target_bytes must be positive, got {target_bytes}")
        parent = self.current_seq()
        if parent == 0:
            raise SnapshotNotFound(f"empty table at {self.root}")
        entries, tombs = self._split_entries(
            self._manifest_entries(self._load_snapshot(parent))
        )
        if not tombs and all(
            e["byte_size"] >= target_bytes // 2 for e in entries
        ):
            return parent
        total = sum(e["byte_size"] for e in entries)
        n_files = max(1, -(-total // target_bytes))
        df = self.read()
        if sort_cols:
            df = df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
            df = df.sortWithinPartitions(*sort_cols)
        else:
            df = df.coalesce(n_files) if df.rdd.getNumPartitions() > n_files else df
        return self.replace(
            df,
            stat_cols=stat_cols,
            summary={
                "compacted_from_files": len(entries),
                "target_bytes": int(target_bytes),
                **(summary or {}),
            },
            expected_parent=parent,
        )

    def materialize_deletes(
        self, *, stat_cols: tuple[str, ...] = (), summary: dict | None = None
    ) -> int:
        """Fold merge-on-read tombstones back into plain data files:
        commit ``read()``'s result as the table's full content (replace
        with an ``expected_parent`` CAS). After this, reads are
        scan-only again and copy-on-write merges are allowed."""
        parent = self.current_seq()
        if parent == 0:
            raise SnapshotNotFound(f"empty table at {self.root}")
        return self.replace(
            self.read(),
            stat_cols=stat_cols,
            summary={"materialized_deletes": True, **(summary or {})},
            expected_parent=parent,
        )

    def _write_commit(
        self,
        df: DataFrame,
        operation: str,
        *,
        stat_cols: tuple[str, ...],
        max_retries: int,
        summary: dict | None,
        expected_parent: int | None = None,
        allow_schema_evolution: bool = False,
    ) -> int:
        os.makedirs(self.data_dir, exist_ok=True)
        cur_schema = self.schema()
        # structural comparison (names + types): an aggregation fold of
        # the table's own content flips nullability flags, which is not
        # schema evolution
        if cur_schema is not None and df.schema.simpleString() != cur_schema.simpleString():
            if not allow_schema_evolution:
                raise ValueError(
                    f"schema mismatch appending to {self.root}: "
                    f"{df.schema.simpleString()} != {cur_schema.simpleString()}"
                )
            old = {f.name: f.dataType.simpleString() for f in cur_schema.fields}
            new = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            dropped = [n for n in old if n not in new]
            retyped = [n for n in old if n in new and new[n] != old[n]]
            if dropped or retyped:
                raise ValueError(
                    f"schema evolution on {self.root} must be widening: "
                    f"dropped={dropped} retyped={retyped}"
                )
        mname = self._write_data(df, stat_cols)
        schema_json = json.dumps(df.schema.jsonValue())
        for attempt in range(max_retries):
            mseqs: dict = {}
            if operation == "append":
                parent = self.current_seq()
                if parent:
                    psnap = self._load_snapshot(parent)
                    base = psnap["manifests"]
                    mseqs = psnap.get("manifest_seqs", {})
                else:
                    base = []
            else:
                base = []
                if (
                    expected_parent is not None
                    and self.current_seq() != expected_parent
                ):
                    raise CommitConflict(
                        f"replace computed from snapshot {expected_parent} of "
                        f"{self.root} but head is now {self.current_seq()} — "
                        "rewriting would drop the concurrent commit(s)"
                    )
            try:
                return self._commit(
                    base + [mname], schema_json, operation, summary,
                    manifest_seqs=mseqs,
                )
            except (FileExistsError, CommitConflict):
                if expected_parent is not None:
                    raise CommitConflict(
                        f"replace of {self.root} lost the CAS race at "
                        f"seq {expected_parent + 1}"
                    )
                if attempt == max_retries - 1:
                    raise CommitConflict(
                        f"gave up appending to {self.root} after {max_retries} conflicts"
                    )
        raise AssertionError("unreachable")

    def rollback(self, seq: int) -> int:
        """Commit a new snapshot whose content is that of snapshot
        ``seq`` (history stays intact — this is a forward-moving undo,
        like Iceberg's rollback)."""
        snap = self._load_snapshot(seq)
        return self._commit(
            list(snap["manifests"]), snap["schema"], "rollback",
            manifest_seqs=snap.get("manifest_seqs", {}),
        )

    def compact_manifests(self) -> int:
        """Fold the current manifest list into a single manifest file and
        commit an equal-content snapshot. Keeps scan planning O(1)
        manifest reads after many small appends."""
        cur = self.current_seq()
        if cur == 0:
            raise SnapshotNotFound(f"empty table at {self.root}")
        snap = self._load_snapshot(cur)
        entries = self._manifest_entries(snap)
        mname = f"manifest-{uuid.uuid4().hex[:16]}.json"
        _atomic_write_text(
            os.path.join(self.meta_dir, mname),
            json.dumps({"files": [self._durable_entry(e) for e in entries]}),
        )
        return self._commit([mname], snap["schema"], "compact")

    def expire_snapshots(self, *, keep_last: int = 1) -> dict:
        """Delete snapshot/manifest metadata older than the newest
        ``keep_last`` snapshots, plus any data file no retained snapshot
        references (files stranded by rollbacks). Time travel below the
        horizon stops working; the current snapshot is untouched."""
        cur = self.current_seq()
        keep_seqs = set(range(max(1, cur - keep_last + 1), cur + 1))
        keep_manifests: set[str] = set()
        keep_files: set[str] = set()
        for seq in keep_seqs:
            snap = self._load_snapshot(seq)
            keep_manifests.update(snap["manifests"])
            keep_files.update(e["path"] for e in self._manifest_entries(snap))
        removed = {"snapshots": 0, "manifests": 0, "data_files": 0}
        for name in list(os.listdir(self.meta_dir)):
            full = os.path.join(self.meta_dir, name)
            if name.startswith("snap-") and name.endswith(".json"):
                try:
                    seq = int(name[len("snap-"):-len(".json")])
                except ValueError:
                    continue
                if seq not in keep_seqs:
                    os.remove(full)
                    removed["snapshots"] += 1
            elif name.startswith("manifest-") and name not in keep_manifests:
                os.remove(full)
                removed["manifests"] += 1
        if os.path.isdir(self.data_dir):
            for commit_id in list(os.listdir(self.data_dir)):
                cdir = os.path.join(self.data_dir, commit_id)
                if not os.path.isdir(cdir):
                    continue
                for fname in list(os.listdir(cdir)):
                    rel = os.path.join("data", commit_id, fname)
                    if fname.endswith(".parquet") and rel not in keep_files:
                        os.remove(os.path.join(cdir, fname))
                        removed["data_files"] += 1
                if not any(f.endswith(".parquet") for f in os.listdir(cdir)):
                    import shutil

                    shutil.rmtree(cdir)
        return removed


class SnapshotMetricsStore(MetricsStore):
    """``MetricsStore`` semantics over a :class:`SnapshotTable` — the
    north rule's Iceberg metrics table made literal. Each stage's
    lineage append is a snapshot commit: a job killed after writing its
    data output but *before* this commit leaves the metrics table at the
    previous snapshot, so ``resume_filter`` re-processes exactly the
    uncommitted cells (at-least-once, never lost). Time travel over the
    metrics history (``read(as_of=...)``) replaces log archaeology when
    auditing a resumed run.

    Drop-in for :class:`tilegrab_spark.plans.lineage.MetricsStore`: only
    the storage calls differ, and the query surface (``resume_filter``,
    ``latest``, ``summary``) is inherited over the snapshot-consistent
    read. ``Engine(metrics_format="snapshot")`` selects it.
    """

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, path)
        self.table = SnapshotTable(spark, path)

    def exists(self) -> bool:
        return self.table.current_seq() > 0

    def append_stage(self, df, *, run_id, stage, status="SUCCESS", bytes_col=None) -> int:
        m = _stage_metrics(df, run_id=run_id, stage=stage, status=status, bytes_col=bytes_col)
        return self.table.append(m, stat_cols=("cell_id", "stage"))

    def read(self, *, as_of: int | None = None) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], METRICS_SCHEMA)
        return self.table.read(as_of=as_of)
