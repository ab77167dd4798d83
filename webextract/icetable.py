"""Iceberg-style table emulation: snapshots, manifests, partition commits.

No Iceberg jars exist in this sandbox (SURVEY.md §7.4#5), so this module
reproduces the subset of Iceberg semantics the pipeline needs, with the
same shape a real catalog would slot into:

* data files live wherever they were written (``files/<run_id>/...``);
  the MANIFEST is the only source of truth — orphan files from a killed
  run are simply never referenced (exactly Iceberg's model).
* ``IceTable`` owns the staging layout: a writer stages its frame
  into ``files/<run_id>/wave-NNNN/`` through ``stage`` and commits the
  data files it lists, and the orphan GC judges files with the same
  data-file predicate, so a commit lists exactly what its write made.
  The extraction job writes through ``stage_parts`` instead: one file
  per part under ``files/<run_id>/``, each PUBLISHED by its write task
  with a per-part record (``part-PPPPP.json``: its files, row counts,
  bounds and counters) that a resume can commit without recomputing
  the part (``published``); a commit drops the records it covered
  (``unpublish``), and the orphan GC drops a record together with its
  file.
* a snapshot is a JSON manifest listing committed partitions, their data
  files, and per-partition lineage counters; snapshots chain via
  ``parent_id``.
* commits are atomic: manifest written to a temp file then ``os.replace``
  onto the ``_CURRENT`` pointer — readers see the old or the new
  snapshot, never a partial one.
* resume = read ``committed_parts()`` and skip them (the reference's
  precedent is its Redis task-registry status repair,
  /root/reference/docling_serve/orchestrator_factory.py:35-92; counters
  ≡ processing_meta, orchestrator_factory.py:104-106).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from urllib.parse import unquote


def _is_data_file(name: str) -> bool:
    """A data file of Spark's parquet output; ``_SUCCESS`` and ``.crc``
    markers are not."""
    return name.endswith(".parquet") and not name.startswith((".", "_"))


# a publication record's name: files/<run_id>/part-PPPPP.json
_RECORD = re.compile(r"part-(\d+)\.json")

# Test hook: called in the write kernel with each part_id once the
# part's data file is closed and before its record is published, so a
# test can kill a write task between the two.
_BEFORE_PUBLISH = None


def _part_writer(out_dir: str, table_dir: str, run_id: str, count,
                 stamp: dict, stats_cols: tuple[str, ...], before_publish):
    """stage_parts' mapInArrow write kernel over rows sorted by
    ``part_id``.  Each part's rows become one single-row-group snappy
    parquet file in ``out_dir`` without the part_id column (a
    timestamp column keeps the UTC zone Spark sends, so Spark reads it
    back as TimestampType, not TimestampNTZType), named
    ``part-PPPPP-<attempt>.parquet`` with a name unique to this
    attempt; once the file is closed the part is published: its record
    replaces ``part-PPPPP.json`` atomically (tmp + ``os.replace``).
    The record names the file as the table spells it (``table_dir``),
    with its row count and ``stats_cols`` bounds from the closed
    writer's footer, ``count(rows)`` as its counters, and ``stamp``.
    Yields one (part_id, record JSON) row per part."""

    def publish(part_id: int, pieces: list) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows = pa.Table.from_batches(pieces).drop_columns(["part_id"])
        name = f"part-{part_id:05d}-{uuid.uuid4().hex}.parquet"
        # plain encoding and statistics of ``stats_cols`` only: most
        # columns are extracted text, which neither a dictionary nor
        # min/max values of kilobytes shrink or prune
        writer = pq.ParquetWriter(os.path.join(out_dir, name), rows.schema,
                                  compression="snappy", use_dictionary=False,
                                  write_statistics=list(stats_cols),
                                  store_schema=False)
        writer.write_table(rows, row_group_size=max(1, rows.num_rows))
        writer.close()
        md = writer.writer.metadata
        f = os.path.join(table_dir, name)
        record = json.dumps({
            "run_id": run_id, "part_id": part_id, "files": [f],
            "file_rows": {f: md.num_rows},
            "file_stats": {f: IceTable._column_bounds(md, stats_cols)},
            "counters": count(rows), **stamp})
        if before_publish is not None:
            before_publish(part_id)
        final = os.path.join(out_dir, f"part-{part_id:05d}.json")
        tmp = os.path.join(out_dir, f".{name}.json.tmp")
        with open(tmp, "w") as fh:
            fh.write(record)
        os.replace(tmp, final)
        return record

    def write_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        done, part, pieces = [], None, []
        for batch in batches:
            runs = pc.run_end_encode(batch.column("part_id"))
            start = 0
            for p, end in zip(runs.values.to_pylist(),
                              runs.run_ends.to_pylist()):
                if p != part and pieces:
                    done.append((part, publish(part, pieces)))
                    pieces = []
                part = p
                pieces.append(batch.slice(start, end - start))
                start = end
        if pieces:
            done.append((part, publish(part, pieces)))
        if done:
            ids, records = zip(*done)
            yield pa.RecordBatch.from_pydict(
                {"part_id": pa.array(ids, pa.int32()),
                 "record": pa.array(records, pa.string())})

    return write_batches


def _literal(path: str) -> str:
    """``path`` escaped for the Hadoop glob expansion every Spark read
    applies, so a table root such as ``t[1]*`` names only itself."""
    return re.sub(r"([\\{}\[\]*?])", r"\\\1", path)


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: the table head moved between a
    writer's read of the chain and its commit (Iceberg's
    CommitFailedException).  The writer must re-read and retry."""


class IceTable:
    def __init__(self, root: str) -> None:
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.files_dir = os.path.join(root, "files")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.files_dir, exist_ok=True)

    # -- schema evolution (Iceberg field-id model) ------------------------
    # A schema is {"schema_id": n, "fields": [{"id", "name", "type"}]}.
    # Field IDs are permanent: rename changes a field's NAME but keeps
    # its id; add_column assigns a fresh id.  Data files are written
    # under the names of the schema current at COMMIT time (the
    # snapshot records schema_id), and reads RESOLVE each live file's
    # columns to the current schema through field ids — old files get
    # NULL backfill for fields added after they were written, renamed
    # fields read under their write-time name.  Tables that never call
    # init_schema behave exactly as before (schema-oblivious).
    # Reference precedent: Iceberg's schema evolution spec, which
    # SURVEY.md §7 commits to emulating API-shaped.

    @property
    def _schema_ptr(self) -> str:
        return os.path.join(self.meta_dir, "_SCHEMA")

    def current_schema_id(self) -> int | None:
        try:
            with open(self._schema_ptr) as f:
                txt = f.read().strip()
                return int(txt) if txt else None
        except FileNotFoundError:
            return None

    def _schema(self, schema_id: int) -> dict:
        with open(os.path.join(self.meta_dir,
                               f"schema-{schema_id}.json")) as f:
            return json.load(f)

    def current_schema(self) -> dict | None:
        sid = self.current_schema_id()
        return self._schema(sid) if sid is not None else None

    def _write_schema(self, schema: dict) -> int:
        """Atomic schema append + pointer swap (same discipline as
        snapshot commit; callers hold the commit lock)."""
        sid = schema["schema_id"]
        path = os.path.join(self.meta_dir, f"schema-{sid}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(schema, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        ptmp = self._schema_ptr + ".tmp"
        with open(ptmp, "w") as f:
            f.write(str(sid))
            f.flush()
            os.fsync(f.fileno())
        os.replace(ptmp, self._schema_ptr)
        return sid

    def init_schema(self, fields: list[tuple[str, str]]) -> int:
        """Declare schema v0: [(name, spark_type)].  Field ids are
        assigned 1..n in order."""
        if self.current_schema_id() is not None:
            raise ValueError("schema already initialized")
        lock = self._commit_lock()
        try:
            return self._write_schema({
                "schema_id": 0,
                "fields": [{"id": i + 1, "name": n, "type": t}
                           for i, (n, t) in enumerate(fields)]})
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def _evolve(self, mutate) -> int:
        lock = self._commit_lock()
        try:
            cur = self.current_schema()
            if cur is None:
                raise ValueError("init_schema first")
            fields = [dict(f) for f in cur["fields"]]
            mutate(fields)
            return self._write_schema(
                {"schema_id": cur["schema_id"] + 1, "fields": fields})
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def add_column(self, name: str, dtype: str) -> int:
        """Schema evolution: append a column (fresh field id).  Old
        files backfill NULL on read — no data rewrite, the Iceberg
        contract."""
        def mutate(fields):
            if any(f["name"] == name for f in fields):
                raise ValueError(f"column {name!r} exists")
            nid = max(f["id"] for f in fields) + 1
            fields.append({"id": nid, "name": name, "type": dtype})
        return self._evolve(mutate)

    def rename_column(self, old: str, new: str) -> int:
        """Schema evolution: rename keeps the field id, so files
        written under the old name keep resolving (no data rewrite)."""
        def mutate(fields):
            if any(f["name"] == new for f in fields):
                raise ValueError(f"column {new!r} exists")
            for f in fields:
                if f["name"] == old:
                    f["name"] = new
                    return
            raise ValueError(f"no column {old!r}")
        return self._evolve(mutate)

    def _current_name(self, write_name: str, file_schema_id: int | None
                      ) -> str | None:
        """Write-time column name -> its current-schema name (None if
        the field no longer resolves).  Inverse of _resolve_name."""
        cur = self.current_schema()
        if cur is None:
            return write_name
        hist = self._schema(file_schema_id if file_schema_id is not None
                            else 0)
        fid = next((f["id"] for f in hist["fields"]
                    if f["name"] == write_name), None)
        if fid is None:
            return None
        return next((f["name"] for f in cur["fields"]
                     if f["id"] == fid), None)

    def _resolve_name(self, cur_name: str, file_schema_id: int | None
                      ) -> str | None:
        """Current-schema column name -> the name it had in the schema
        a file was written under (None if the field did not exist yet).
        Schema-oblivious tables (or pre-schema snapshots) resolve to
        the same name."""
        cur = self.current_schema()
        if cur is None:
            return cur_name
        fid = next((f["id"] for f in cur["fields"]
                    if f["name"] == cur_name), None)
        if fid is None:
            raise ValueError(f"no column {cur_name!r} in current schema")
        hist = self._schema(file_schema_id if file_schema_id is not None
                            else 0)
        return next((f["name"] for f in hist["fields"]
                     if f["id"] == fid), None)

    def _mapped_df(self, spark, files: list[str],
                   schema_id: int | None):
        """Read files written under ``schema_id`` and project them to
        the CURRENT schema: renamed fields resolve by field id, fields
        newer than the file backfill NULL (typed)."""
        from pyspark.sql import functions as SF
        cur = self.current_schema()
        df = spark.read.parquet(*map(_literal, files))
        if cur is None:
            return df
        hist = self._schema(schema_id if schema_id is not None else 0)
        by_id = {f["id"]: f for f in hist["fields"]}
        cols = []
        for f in cur["fields"]:
            h = by_id.get(f["id"])
            if h is None:
                cols.append(SF.lit(None).cast(f["type"]).alias(f["name"]))
            else:
                cols.append(SF.col(h["name"]).alias(f["name"]))
        return df.select(*cols)

    def _read_mapped(self, spark, files_with_schema: list[tuple[str,
                                                                int | None]]):
        """Union of per-schema-version mapped reads — ONE spark.read
        per distinct write-time schema, not per file."""
        groups: dict = {}
        for f, sid in files_with_schema:
            groups.setdefault(sid, []).append(f)
        dfs = [self._mapped_df(spark, fs, sid)
               for sid, fs in sorted(groups.items(),
                                     key=lambda kv: (kv[0] is None,
                                                     kv[0] or 0))]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def data_files_with_schema(self, as_of: str | None = None
                               ) -> list[tuple[str, int | None]]:
        """Live (file, write-time schema_id) pairs — the schema-aware
        twin of data_files()."""
        out = []
        for s in self.snapshots(as_of):
            sid = s.get("schema_id")
            for p in s["partitions"]:
                fsch = p.get("file_schemas") or {}
                out.extend((f, fsch.get(f, sid)) for f in p["files"])
            if s.get("rewrite"):
                break
        return out

    # -- row-level deletes (Iceberg v2 merge-on-read, equality deletes) --
    # A snapshot may carry {"files": [...], "key_cols": [...],
    # "schema_id": n} under "delete": parquet files of key tuples whose
    # matching rows are deleted from all STRICTLY OLDER snapshots' data
    # (sequence-number semantics: a snapshot's own data files are newer
    # than its delete, so delete-then-append in ONE commit is an atomic
    # upsert — the recrawl story: drop the url's old rows, add the new
    # fetch).  Reads apply deletes as broadcast anti-joins
    # (merge-on-read); compact() folds affected files into the rewrite
    # and applies deletes physically, so a rewrite snapshot never
    # carries delete state.

    def _live_set(self, as_of: str | None = None):
        """([(file, schema_id, seq)], [(seq, files, key_cols,
        schema_id)]) — live data files and delete frames with their
        snapshot sequence numbers (chain position; newer = higher).
        The walk stops at a rewrite, same as data_files()."""
        chain = self.snapshots(as_of)
        data, deletes = [], []
        for i, s in enumerate(chain):
            seq = len(chain) - i          # newest gets the highest seq
            sid = s.get("schema_id")
            d = s.get("delete")
            if d:
                deletes.append((seq, d["files"], tuple(d["key_cols"]),
                                d.get("schema_id")))
            for p in s["partitions"]:
                fsch = p.get("file_schemas") or {}
                data.extend((f, fsch.get(f, sid), seq)
                            for f in p["files"])
            if s.get("rewrite"):
                break
        return data, deletes

    def delete_keys_frame(self, spark, delete) -> "object":
        """One delete's key tuples projected to CURRENT column names
        (a delete written before a rename still applies)."""
        from pyspark.sql import functions as SF
        _, files, key_cols, dsid = delete
        df = spark.read.parquet(*map(_literal, files))
        cols = [SF.col(c).alias(self._current_name(c, dsid) or c)
                for c in key_cols]
        return df.select(*cols)

    def _grouped_read(self, spark,
                      picked: list[tuple[str, int | None, int]],
                      deletes) -> "object":
        """Union of mapped reads grouped by (write-time schema, set of
        applicable deletes); each group anti-joins the union of delete
        frames newer than its files.  Deletes are key tuples — small by
        construction — so the anti-join broadcasts."""
        from pyspark.sql import functions as SF
        groups: dict = {}
        for f, sid, seq in picked:
            applicable = tuple(sorted(
                i for i, (dseq, *_rest) in enumerate(deletes)
                if dseq > seq))
            groups.setdefault((sid, applicable), []).append(f)
        dfs = []
        for (sid, applicable), fs in sorted(
                groups.items(),
                key=lambda kv: (kv[0][0] is None, kv[0][0] or 0,
                                kv[0][1])):
            df = self._mapped_df(spark, fs, sid)
            for i in applicable:
                keys = self.delete_keys_frame(spark, deletes[i])
                df = df.join(SF.broadcast(keys), on=list(keys.columns),
                             how="left_anti")
            dfs.append(df)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def delete_where(self, spark, keys_df, key_cols: tuple[str, ...],
                     run_id: str, committed_at: str,
                     expected_parent=...) -> str:
        """Commit an equality-delete snapshot: rows of OLDER snapshots
        whose ``key_cols`` tuple appears in ``keys_df`` disappear from
        every read surface; no data file is rewritten (merge-on-read —
        compaction applies deletes physically later)."""
        files = self.stage(keys_df.select(*key_cols).distinct().coalesce(1),
                           run_id).get((), [])
        return self.commit(run_id, [], committed_at,
                           expected_parent=expected_parent,
                           delete={"files": files,
                                   "key_cols": list(key_cols)})

    def upsert(self, spark, rows_df, key_cols: tuple[str, ...],
               run_id: str, committed_at: str, part_id: int = -2
               ) -> str:
        """Atomic row-level upsert (the recrawl commit): ONE snapshot
        whose delete drops the keys' old rows from older snapshots and
        whose data files add the new rows — sequence numbers exempt the
        snapshot's own files from its own delete, so readers see either
        the old rows or the new ones, never both, never neither."""
        data_files = self.stage(rows_df, run_id, 1).get((), [])
        del_files = self.stage(
            rows_df.select(*key_cols).distinct().coalesce(1),
            run_id).get((), [])
        return self.commit(
            run_id,
            [{"part_id": part_id, "files": data_files, "counters": {}}],
            committed_at,
            delete={"files": del_files, "key_cols": list(key_cols)})

    # -- snapshot chain -------------------------------------------------
    @property
    def _current_path(self) -> str:
        return os.path.join(self.meta_dir, "_CURRENT")

    def current_snapshot_id(self) -> str | None:
        try:
            with open(self._current_path) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def _snapshot(self, snap_id: str) -> dict:
        with open(os.path.join(self.meta_dir, f"snap-{snap_id}.json")) as f:
            return json.load(f)

    def snapshots(self, as_of: str | None = None) -> list[dict]:
        """Chain from ``as_of`` (default: current) back to root (newest
        first) — Iceberg's snapshot-id time travel: reading from an
        older snapshot sees exactly the partitions committed then.
        A parent pruned by expire_snapshots ends the walk (Iceberg:
        expired history is simply gone)."""
        out = []
        sid = as_of or self.current_snapshot_id()
        while sid:
            try:
                s = self._snapshot(sid)
            except FileNotFoundError:
                break
            out.append(s)
            sid = s.get("parent_id")
        return out

    def latest_snapshot(self) -> dict | None:
        sid = self.current_snapshot_id()
        return self._snapshot(sid) if sid else None

    # -- read side ------------------------------------------------------
    def committed_parts(self, as_of: str | None = None) -> set[int]:
        """Part ids covered by the table — the resume anti-join's right
        side.  Rewrite (compaction) snapshots carry the part ids they
        replaced forward, so resume survives history expiry."""
        parts: set[int] = set()
        for s in self.snapshots(as_of):
            parts.update(p["part_id"] for p in s["partitions"])
            parts.update(s.get("carried_parts", ()))
        parts.discard(-1)   # the rewrite snapshot's synthetic part
        return parts

    def data_files(self, as_of: str | None = None) -> list[str]:
        """Live data files at a snapshot.  A rewrite (compaction)
        snapshot's file list REPLACES everything older, so the walk
        stops there — exactly Iceberg's rewrite_data_files semantics."""
        out = []
        for s in self.snapshots(as_of):
            for p in s["partitions"]:
                out.extend(p["files"])
            if s.get("rewrite"):
                break
        return out

    @staticmethod
    def file_column_stats(path: str, cols: tuple[str, ...]) -> dict:
        """{col: [min, max]} from the parquet FOOTER only (no data
        read) — Iceberg's per-file column bounds, produced at write
        time by the writer that just created the file.  Strings and
        ints only (JSON-native); a column absent from the footer or
        without statistics is simply omitted (scan() then cannot prune
        on it — correct, never wrong)."""
        import pyarrow.parquet as pq
        return IceTable._column_bounds(pq.ParquetFile(path).metadata, cols)

    @staticmethod
    def _column_bounds(md, cols: tuple[str, ...]) -> dict:
        """file_column_stats over an already-read footer."""
        names = {md.schema.column(i).name: i
                 for i in range(md.num_columns)}
        out = {}
        for c in cols:
            i = names.get(c)
            if i is None:
                continue
            mn = mx = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    mn = mx = None
                    break
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            if mn is not None and isinstance(mn, (str, int)):
                out[c] = [mn, mx]
        return out

    def data_file_stats(self, as_of: str | None = None) -> dict:
        """{file: {col: [min, max]}} for the live files — the manifest
        walk twin of data_files()."""
        stats: dict = {}
        for s in self.snapshots(as_of):
            for p in s["partitions"]:
                for f in p["files"]:
                    stats.setdefault(f, (p.get("file_stats") or {})
                                     .get(f, {}))
            if s.get("rewrite"):
                break
        return stats

    def data_file_rows(self, as_of: str | None = None) -> dict:
        """{file: record_count} for the live files — the row-count
        twin of data_file_stats (Iceberg data_file.record_count)."""
        rows: dict = {}
        for s in self.snapshots(as_of):
            for p in s["partitions"]:
                for f in p["files"]:
                    if f in (p.get("file_rows") or {}):
                        rows.setdefault(f, p["file_rows"][f])
            if s.get("rewrite"):
                break
        return rows

    def stats_agg(self, spark, cols: tuple[str, ...] = (),
                  as_of: str | None = None):
        """One-row aggregate (n_rows, min_<c>/max_<c> per tracked
        column, metadata_only flag) answered from MANIFESTS ALONE when
        that is sound — Iceberg's metadata-only count(*)/min/max, the
        reason a 10^12-row table answers a dataset-card header without
        a scan: n_rows = sum of committed record_counts, bounds = fold
        of the committed per-file footer bounds (write-time column
        names resolved through any renames; files written before an
        added column contribute no bound, matching their NULL
        backfill).

        Soundness gate, checked not assumed: any live DELETE file, a
        live file without a record count, or a tracked column missing
        bounds on a file that HAS the column forces the real scan
        (metadata_only=false) — the answer is always correct, metadata
        is purely a cost lever (the scan() contract)."""
        from pyspark.sql import functions as SF
        data, deletes = self._live_set(as_of)
        rows_map = self.data_file_rows(as_of)
        stats = self.data_file_stats(as_of)
        meta_ok = not deletes and all(f in rows_map for f, _, _ in data)
        bounds: dict = {}
        if meta_ok:
            for c in cols:
                mn = mx = None
                for f, sid, _seq in data:
                    wname = self._resolve_name(c, sid)
                    if wname is None:
                        continue           # NULL backfill: no bound
                    st = stats.get(f, {})
                    if wname not in st:
                        meta_ok = False
                        break
                    fmn, fmx = st[wname]
                    mn = fmn if mn is None else min(mn, fmn)
                    mx = fmx if mx is None else max(mx, fmx)
                if not meta_ok:
                    break
                bounds[c] = (mn, mx)
        names = ["n_rows"] + [f"{w}_{c}" for c in cols
                              for w in ("min", "max")]
        if meta_ok:
            vals = [sum(rows_map[f] for f, _, _ in data)]
            for c in cols:
                vals.extend(bounds[c])
            row = spark.createDataFrame([tuple(vals)], names)
        else:
            df = self._grouped_read(spark, data, deletes)
            aggs = [SF.count("*").alias("n_rows")]
            for c in cols:
                aggs += [SF.min(c).alias(f"min_{c}"),
                         SF.max(c).alias(f"max_{c}")]
            row = df.agg(*aggs)
        return row.withColumn(
            "metadata_only", SF.lit(bool(meta_ok))).select(
            *names, "metadata_only")

    def scan(self, spark, col: str, lo, hi,
             as_of: str | None = None):
        """Stats-pruned range read: open ONLY files whose committed
        [min, max] bounds for ``col`` overlap [lo, hi] — Iceberg's
        manifest-level file skipping, the reason a 10^12-doc table
        answers a narrow range query without touching a million
        footers.  Files without recorded bounds are conservatively
        kept; the exact residual filter is applied on top, so the
        result is ALWAYS correct and pruning is purely a cost lever
        (returns (df, files_scanned, files_total) — callers/tests read
        the prune ratio)."""
        from pyspark.sql import functions as SF
        stats = self.data_file_stats(as_of)
        data, deletes = self._live_set(as_of)
        picked = []
        for f, sid, seq in data:
            wname = self._resolve_name(col, sid)
            if wname is None:
                # field added after this file was written: every row
                # backfills NULL, which a range predicate can't match —
                # prune the whole file (exactly Iceberg's behavior)
                continue
            st = stats.get(f, {})
            if wname not in st or not (st[wname][1] < lo
                                       or st[wname][0] > hi):
                picked.append((f, sid, seq))
        if not picked:
            return None, 0, len(data)
        df = (self._grouped_read(spark, picked, deletes)
              .filter(SF.col(col).between(lo, hi)))
        return df, len(picked), len(data)

    def scan_box(self, spark, preds: list[tuple], as_of: str | None = None):
        """Multi-column stats-pruned read: open ONLY files whose
        committed [min, max] bounds overlap EVERY (col, lo, hi) in
        ``preds`` — the consumer a Z-ORDER rewrite exists for: linear
        sort gives one prunable dimension, bit-interleaved clustering
        gives tight per-file bounding boxes on ALL interleaved columns
        at once, so a 2-D box query (host range × date range is the
        crawl-table classic) skips files on both axes.  Missing bounds
        conservatively keep the file; a column added after a file was
        written prunes it (NULL can't match a range — scan()'s rule);
        the exact residual filter rides on top, so the result is
        always correct and pruning stays a pure cost lever."""
        from pyspark.sql import functions as SF
        stats = self.data_file_stats(as_of)
        data, deletes = self._live_set(as_of)
        picked = []
        for f, sid, seq in data:
            keep = True
            for col, lo, hi in preds:
                wname = self._resolve_name(col, sid)
                if wname is None:
                    keep = False
                    break
                st = stats.get(f, {})
                if wname in st and (st[wname][1] < lo
                                    or st[wname][0] > hi):
                    keep = False
                    break
            if keep:
                picked.append((f, sid, seq))
        if not picked:
            return None, 0, len(data)
        df = self._grouped_read(spark, picked, deletes)
        for col, lo, hi in preds:
            df = df.filter(SF.col(col).between(lo, hi))
        return df, len(picked), len(data)

    def read(self, spark, as_of: str | None = None):
        """Read the table (optionally time-traveled to snapshot id
        ``as_of``) — only manifest-listed files, never a directory
        listing, so orphans from killed runs are invisible.  With a
        declared schema, every file is projected to the CURRENT
        schema (field-id rename resolution + NULL backfill)."""
        data, deletes = self._live_set(as_of)
        if not data:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        return self._grouped_read(spark, data, deletes)

    def lineage(self) -> list[dict]:
        """Per-partition lineage rows (FIXTURES.md §5) across snapshots.
        Rewrite snapshots move no documents and carry no counters —
        skipped (their history lives in the snapshots they replaced,
        until expiry)."""
        rows = []
        for s in self.snapshots():
            if s.get("rewrite"):
                continue
            for p in s["partitions"]:
                r = dict(p["counters"])
                r.update(run_id=s["run_id"], part_id=p["part_id"],
                         committed_at=s["committed_at"],
                         snapshot_id=s["snapshot_id"])
                rows.append(r)
        return rows

    def lineage_df(self, spark):
        rows = self.lineage()
        return spark.createDataFrame(
            rows or [],
            schema=("run_id string, part_id int, num_docs long, "
                    "num_processed long, num_succeeded long, "
                    "num_partial long, num_failed long, "
                    "num_skipped long, bytes_in long, bytes_out long, "
                    "wall_ms long, committed_at string, snapshot_id string"))

    # -- named refs: branches and tags (Iceberg refs / WAP) ---------------
    # A branch is a mutable named head; a tag is an immutable one.  The
    # write-audit-publish pattern: commit waves to an "audit" branch
    # (main readers see nothing), run the quality gates against the
    # branch head, then fast-forward main to it in one atomic pointer
    # swap.  Main's head stays `_CURRENT` (every pre-refs table is a
    # main-only table); other refs live under metadata/refs/<name>.

    def _ref_path(self, name: str) -> str:
        if name in ("", "main") or "/" in name or name.startswith("."):
            raise ValueError(f"bad ref name {name!r}")
        return os.path.join(self.meta_dir, "refs", name)

    def _write_ref(self, name: str, snap_id: str | None,
                   kind: str) -> None:
        path = self._ref_path(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"type": kind, "snapshot_id": snap_id}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def _read_ref(self, name: str) -> dict | None:
        if name == "main":
            return {"type": "branch",
                    "snapshot_id": self.current_snapshot_id()}
        try:
            with open(self._ref_path(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def ref_head(self, name: str) -> str | None:
        """The snapshot id a branch or tag points at (usable anywhere
        ``as_of`` is accepted).  Raises for an unknown ref."""
        r = self._read_ref(name)
        if r is None:
            raise ValueError(f"no such ref {name!r}")
        return r["snapshot_id"]

    def create_branch(self, name: str, at: str | None = None) -> None:
        """New mutable branch at ``at`` (default: main's head)."""
        lock = self._commit_lock()
        try:
            if self._read_ref(name) is not None:
                raise ValueError(f"ref {name!r} exists")
            self._write_ref(name, at if at is not None
                            else self.current_snapshot_id(), "branch")
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def create_tag(self, name: str, at: str | None = None) -> None:
        """Immutable named snapshot (release/audit marker)."""
        lock = self._commit_lock()
        try:
            if self._read_ref(name) is not None:
                raise ValueError(f"ref {name!r} exists")
            self._write_ref(name, at if at is not None
                            else self.current_snapshot_id(), "tag")
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def _is_ancestor(self, maybe_ancestor: str | None,
                     head: str | None) -> bool:
        """True iff walking parents from ``head`` reaches
        ``maybe_ancestor`` (None = the empty table, ancestor of all)."""
        if maybe_ancestor is None:
            return True
        sid = head
        while sid:
            if sid == maybe_ancestor:
                return True
            try:
                sid = self._snapshot(sid).get("parent_id")
            except FileNotFoundError:
                return False
        return False

    def publish(self, branch: str, into: str = "main") -> str:
        """Fast-forward ``into`` to the branch head — the WAP publish
        step, one atomic pointer swap under the commit lock.  Refuses
        (CommitConflict) when the target has moved past the branch
        point: the branch must rebase (re-commit its waves on the new
        head) rather than silently dropping the interleaved history."""
        lock = self._commit_lock()
        try:
            src = self._read_ref(branch)
            if src is None or src["type"] != "branch":
                raise ValueError(f"{branch!r} is not a branch")
            head = src["snapshot_id"]
            if into == "main":
                target = self.current_snapshot_id()
            else:
                t = self._read_ref(into)
                if t is None or t["type"] != "branch":
                    raise ValueError(f"{into!r} is not a branch")
                target = t["snapshot_id"]
            if not self._is_ancestor(target, head):
                raise CommitConflict(
                    f"{into!r} moved past the branch point of "
                    f"{branch!r}; rebase the branch and re-publish")
            if into == "main":
                ptmp = self._current_path + ".tmp"
                with open(ptmp, "w") as f:
                    f.write(head or "")
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(ptmp, self._current_path)
            else:
                self._write_ref(into, head, "branch")
            return head
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    # -- hidden partitioning (Iceberg partition-spec transforms) ----------
    # A partition spec derives partition values FROM data columns via
    # transforms (bucket/truncate/day/identity), so readers never
    # materialize or even know the partition layout — they filter on
    # source columns and the scan prunes files through the transform
    # (Iceberg's core "hidden partitioning" story).  Specs are
    # versioned like schemas: each commit entry records its spec_id
    # and per-file partition tuple; spec evolution writes a new spec
    # and old files keep pruning under the spec they were written with.

    PARTITION_TRANSFORMS = ("identity", "bucket", "truncate", "day")

    def _pspec_ptr(self) -> str:
        return os.path.join(self.meta_dir, "_PSPEC")

    def current_partition_spec(self) -> tuple[int, list] | None:
        try:
            with open(self._pspec_ptr()) as f:
                spec_id = int(f.read().strip())
        except FileNotFoundError:
            return None
        return spec_id, self._pspec(spec_id)

    def _pspec(self, spec_id: int) -> list:
        with open(os.path.join(self.meta_dir,
                               f"pspec-{spec_id}.json")) as f:
            return [tuple(x) for x in json.load(f)["fields"]]

    def set_partition_spec(self, fields: list[tuple]) -> int:
        """fields: [(name, transform, source_col, param)] — e.g.
        [("url_b", "bucket", "url", 16), ("d", "day", "ts", None)].
        Returns the new spec id; the previous spec stays on disk for
        files written under it (partition evolution)."""
        for name, tf, _src, param in fields:
            if tf not in self.PARTITION_TRANSFORMS:
                raise ValueError(f"unknown transform {tf!r}")
            if tf in ("bucket", "truncate") and not (
                    isinstance(param, int) and param > 0):
                raise ValueError(f"{tf} needs a positive int param")
        lock = self._commit_lock()
        try:
            cur = self.current_partition_spec()
            spec_id = 0 if cur is None else cur[0] + 1
            path = os.path.join(self.meta_dir, f"pspec-{spec_id}.json")
            with open(path + ".tmp", "w") as f:
                json.dump({"fields": [list(x) for x in fields]}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(path + ".tmp", path)
            with open(self._pspec_ptr() + ".tmp", "w") as f:
                f.write(str(spec_id))
                f.flush()
                os.fsync(f.fileno())
            os.replace(self._pspec_ptr() + ".tmp", self._pspec_ptr())
            return spec_id
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    @staticmethod
    def partition_expr(transform: str, source: str, param,
                       numeric: bool = False):
        """The transform as a Spark Column over the source column —
        the write-side half; _partition_value_of is the literal-side
        mirror used by scan pruning.  ``numeric`` types the truncate
        transform (Iceberg truncates numbers to multiples, strings to
        width-prefixes — decided by column type, never per value)."""
        from pyspark.sql import functions as SF
        c = SF.col(source)
        if transform == "identity":
            return c.cast("string")
        if transform == "bucket":
            return (SF.conv(SF.substring(
                SF.md5(SF.concat_ws(":", SF.lit("pbkt"),
                                    c.cast("string"))), 1, 8),
                16, 10).cast("long") % param).cast("string")
        if transform == "truncate":
            if numeric:
                return (SF.floor(c.cast("double") / param) * param
                        ).cast("long").cast("string")
            return SF.substring(c.cast("string"), 1, param)
        if transform == "day":
            return SF.date_format(c, "yyyy-MM-dd")
        raise ValueError(transform)

    @staticmethod
    def _partition_value_of(transform: str, param, value) -> str:
        """Transform a PREDICATE LITERAL exactly as partition_expr
        transforms data (the scan-side mirror)."""
        import hashlib
        if transform == "identity":
            return str(value)
        if transform == "bucket":
            h = hashlib.md5(f"pbkt:{value}".encode()).hexdigest()[:8]
            return str(int(h, 16) % param)
        if transform == "truncate":
            if isinstance(value, (int, float)):
                return str(int(value // param * param))
            return str(value)[:param]
        if transform == "day":
            return str(value)[:10]
        raise ValueError(transform)

    def write_partitioned(self, spark, df, run_id: str,
                          wave: int = 0, part_id: int = 0) -> list[dict]:
        """Write ``df`` under the current partition spec: ONE shuffle
        keyed by the derived partition tuple, Spark's partitionBy
        layout in staging, then manifest entries carrying each file
        group's partition values + spec_id, ready for commit().
        Derived columns live only in directory names — data files
        keep exactly the source columns (hidden partitioning)."""
        from pyspark.sql import functions as SF
        cur = self.current_partition_spec()
        if cur is None:
            raise ValueError("no partition spec set")
        spec_id, fields = cur
        names = tuple(n for n, *_r in fields)
        numeric_types = ("tinyint", "smallint", "int", "bigint",
                         "float", "double")
        dtypes = dict(df.dtypes)
        staged = df
        for name, tf, src, param in fields:
            num = dtypes.get(src, "").startswith(
                numeric_types + ("decimal",))
            staged = staged.withColumn(
                name, self.partition_expr(tf, src, param, numeric=num))
        staged = self.stage(staged.repartition(*[SF.col(n) for n in names]),
                            run_id, wave, by=names)
        return [{"part_id": part_id, "files": files, "counters": {},
                 "partition": dict(zip(names, vals)), "spec_id": spec_id}
                for vals, files in staged.items()]

    def data_files_with_partition(self, as_of: str | None = None
                                  ) -> dict:
        """{file: (partition_values, spec_id)} for live files that
        carry partition metadata (files from plain commits simply
        don't appear — scans keep them conservatively)."""
        out = {}
        for s in self.snapshots(as_of):
            for p in s["partitions"]:
                pv, sid = p.get("partition"), p.get("spec_id")
                if pv is not None and sid is not None:
                    for f in p["files"]:
                        out[f] = (pv, sid)
            if s.get("rewrite"):
                break
        return out

    def scan_by_partition(self, spark, col: str, lo, hi=None,
                          as_of: str | None = None):
        """Partition-pruned read for a predicate on SOURCE column
        ``col``: equality (hi=None) prunes through bucket / identity /
        truncate / day; a range [lo, hi] prunes through the
        order-preserving transforms (day / truncate / identity —
        bucket scatters order, so ranges keep bucket files).  Files
        without partition metadata, or whose spec has no field over
        ``col``, are conservatively kept; the exact residual filter is
        applied on top, so results are ALWAYS correct and pruning is
        purely a cost lever.  Returns (df, files_scanned, files_total)
        like scan()."""
        from pyspark.sql import functions as SF
        pinfo = self.data_files_with_partition(as_of)
        data, deletes = self._live_set(as_of)
        specs: dict[int, list] = {}
        picked = []
        for f, sid, seq in data:
            meta = pinfo.get(f)
            keep = True
            if meta is not None:
                pv, spec_id = meta
                if spec_id not in specs:
                    specs[spec_id] = self._pspec(spec_id)
                for name, tf, src, param in specs[spec_id]:
                    if src != col or name not in pv:
                        continue
                    v = pv[name]
                    if v == "__HIVE_DEFAULT_PARTITION__":
                        continue              # null partition: keep
                    if hi is None:
                        if v != self._partition_value_of(tf, param, lo):
                            keep = False
                    elif tf in ("day", "identity", "truncate"):
                        vlo = self._partition_value_of(tf, param, lo)
                        vhi = self._partition_value_of(tf, param, hi)
                        # numeric truncate compares as ints, the
                        # string transforms compare lexicographically
                        # (ISO days sort correctly)
                        try:
                            inside = int(vlo) <= int(v) <= int(vhi)
                        except ValueError:
                            inside = vlo <= v <= vhi
                        if not inside:
                            keep = False
                    if not keep:
                        break
            if keep:
                picked.append((f, sid, seq))
        if not picked:
            return None, 0, len(data)
        df = self._grouped_read(spark, picked, deletes)
        residual = (SF.col(col) == lo if hi is None
                    else SF.col(col).between(lo, hi))
        return df.filter(residual), len(picked), len(data)

    # -- metadata tables (Iceberg's SELECT * FROM t.files / .snapshots /
    # .history / .refs) — the operational introspection surface: which
    # files back the table, how history evolved, what refs pin it.
    # Metadata is manifest-sized by construction (file counts, not row
    # counts), so building these frames driver-side is the same
    # catalog-artifact pattern Iceberg itself uses.

    def files_df(self, spark, as_of: str | None = None):
        """(file_path, part_id, schema_id, spec_id, partition,
        size_bytes, snapshot_id) for every live data file."""
        rows = []
        for s in self.snapshots(as_of):
            sid = s.get("schema_id")
            for p in s["partitions"]:
                fsch = p.get("file_schemas") or {}
                for f in p["files"]:
                    try:
                        size = os.path.getsize(f)
                    except OSError:
                        size = None
                    rows.append((f, p.get("part_id"),
                                 fsch.get(f, sid), p.get("spec_id"),
                                 json.dumps(p.get("partition"))
                                 if p.get("partition") else None,
                                 size, s["snapshot_id"]))
            if s.get("rewrite"):
                break
        return spark.createDataFrame(
            rows, "file_path string, part_id int, schema_id int, "
                  "spec_id int, partition string, size_bytes long, "
                  "snapshot_id string")

    def snapshots_df(self, spark):
        """Every snapshot file on disk (main chain, branches, expired-
        pending), flagged with main-chain membership."""
        main = {s["snapshot_id"] for s in self.snapshots()}
        rows = []
        for fn in os.listdir(self.meta_dir):
            if not (fn.startswith("snap-") and fn.endswith(".json")):
                continue
            with open(os.path.join(self.meta_dir, fn)) as f:
                s = json.load(f)
            rows.append((s["snapshot_id"], s.get("parent_id"),
                         s.get("run_id"), s.get("committed_at"),
                         bool(s.get("rewrite")),
                         bool(s.get("delete")),
                         sum(len(p["files"]) for p in s["partitions"]),
                         s["snapshot_id"] in main))
        return spark.createDataFrame(
            rows, "snapshot_id string, parent_id string, run_id string, "
                  "committed_at string, is_rewrite boolean, "
                  "has_delete boolean, n_files int, on_main boolean")

    def history_df(self, spark):
        """Main-chain lineage oldest-first: (ordinal, snapshot_id,
        parent_id, committed_at) — Iceberg's .history."""
        chain = list(reversed(self.snapshots()))
        rows = [(i, s["snapshot_id"], s.get("parent_id"),
                 s.get("committed_at")) for i, s in enumerate(chain)]
        return spark.createDataFrame(
            rows, "ordinal int, snapshot_id string, parent_id string, "
                  "committed_at string")

    def refs_df(self, spark):
        """(name, type, snapshot_id) for main + every named ref."""
        rows = [("main", "branch", self.current_snapshot_id())]
        refs_dir = os.path.join(self.meta_dir, "refs")
        try:
            names = sorted(os.listdir(refs_dir))
        except FileNotFoundError:
            names = []
        for fn in names:
            if fn.endswith(".tmp"):
                continue
            with open(os.path.join(refs_dir, fn)) as f:
                r = json.load(f)
            rows.append((fn, r["type"], r["snapshot_id"]))
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id string")

    def drop_ref(self, name: str) -> None:
        """Delete a branch or tag pointer (Iceberg drop_branch/drop_tag).
        The snapshots it pinned become expirable on the next
        expire_snapshots run — the pointer is the retention lease."""
        lock = self._commit_lock()
        try:
            if self._read_ref(name) is None:
                raise ValueError(f"no such ref {name!r}")
            os.remove(self._ref_path(name))
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def rollback_to(self, snapshot_id: str) -> None:
        """Move main's head back to an ANCESTOR snapshot (Iceberg
        rollback_to_snapshot) — the undo for a bad publish or commit.
        Strictly a pointer move: no snapshot or data file is touched,
        so the rolled-back history stays time-travelable (and
        re-publishable) until expiry.  Refuses a non-ancestor target:
        that would be set_current_snapshot, a history REWRITE, which
        this table format deliberately does not offer."""
        lock = self._commit_lock()
        try:
            try:
                self._snapshot(snapshot_id)     # must exist
            except FileNotFoundError:
                raise ValueError(f"no such snapshot {snapshot_id!r}")
            if not self._is_ancestor(snapshot_id,
                                     self.current_snapshot_id()):
                raise ValueError(
                    f"{snapshot_id!r} is not an ancestor of main's head")
            ptmp = self._current_path + ".tmp"
            with open(ptmp, "w") as f:
                f.write(snapshot_id)
                f.flush()
                os.fsync(f.fileno())
            os.replace(ptmp, self._current_path)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def _ref_reachable(self) -> set[str]:
        """Snapshot ids reachable from ANY named ref — the expiry pin
        set.  A branch forked below main's expiry cut still needs its
        whole parent chain; without this pin, expire_snapshots would
        delete a branch's history out from under it (tags likewise —
        they exist to make a snapshot immortal until dropped)."""
        pinned: set[str] = set()
        refs_dir = os.path.join(self.meta_dir, "refs")
        try:
            names = os.listdir(refs_dir)
        except FileNotFoundError:
            return pinned
        for fn in names:
            if fn.endswith(".tmp"):
                continue
            try:
                with open(os.path.join(refs_dir, fn)) as f:
                    sid = json.load(f).get("snapshot_id")
            except (OSError, ValueError):
                continue
            while sid and sid not in pinned:
                pinned.add(sid)
                try:
                    sid = self._snapshot(sid).get("parent_id")
                except FileNotFoundError:
                    break
        return pinned

    # -- snapshot artifacts ----------------------------------------------
    # Derived per-snapshot datasets (LSH band keys, sketch states, ...)
    # stored alongside the manifest, keyed by (kind, snapshot_id) — the
    # catalog-artifact contract: a pure function of a snapshot's docs is
    # computed when the snapshot lands and READ on later runs, never
    # recomputed from the corpus (round-4 verdict item 6).  Artifacts
    # are advisory metadata: a missing one is recomputable, so readers
    # return None rather than raise.

    def artifact_dir(self, kind: str, snapshot_id: str) -> str:
        return os.path.join(self.meta_dir, "artifacts", kind, snapshot_id)

    def write_artifact_df(self, df, kind: str, snapshot_id: str) -> str:
        """Materialize a DataFrame artifact for a snapshot (parquet,
        overwrite-idempotent).  Returns the artifact path."""
        path = self.artifact_dir(kind, snapshot_id)
        df.write.mode("overwrite").parquet(path)
        return path

    def read_artifact_df(self, spark, kind: str, snapshot_id: str):
        """The snapshot's artifact as a DataFrame, or None if absent."""
        path = self.artifact_dir(kind, snapshot_id)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return None
        return spark.read.parquet(_literal(path))

    # -- write side -----------------------------------------------------
    def staging_dir(self, run_id: str, wave: int) -> str:
        return os.path.join(self.files_dir, run_id, f"wave-{wave:04d}")

    def stage(self, df, run_id: str, wave: int = 0,
              by: tuple[str, ...] = ()) -> dict[tuple[str, ...], list[str]]:
        """Write ``df`` (overwrite; ``partitionBy(*by)`` when ``by`` is
        given) into ``staging_dir(run_id, wave)`` and return its data
        files, sorted, keyed by their partition values: the URL-unquoted
        ``k=v`` directory values in ``by`` order, ``()`` without ``by``.
        The only reader of Spark's output layout — every staged write
        lists its files here, so a commit lists exactly the files its
        write produced."""
        out = self.staging_dir(run_id, wave)
        writer = df.write.mode("overwrite")
        if by:
            writer = writer.partitionBy(*by)
        writer.parquet(out)
        staged = {}
        for dirpath, _dirs, names in os.walk(out):
            files = sorted(os.path.join(dirpath, n) for n in names
                           if _is_data_file(n))
            if files:
                rel = os.path.relpath(dirpath, out)
                staged[() if rel == os.curdir else tuple(
                    unquote(seg.partition("=")[2])
                    for seg in rel.split(os.sep))] = files
        return dict(sorted(staged.items()))

    def stage_parts(self, df, run_id: str, tasks: int, count,
                    stamp: dict, stats_cols: tuple[str, ...]
                    ) -> dict[int, dict]:
        """Write ``df``, whose rows carry an int ``part_id``, in ONE Spark
        action, one data file per part, and publish every part.

        ``repartition(tasks, part_id)`` puts each part in exactly one
        write task, which gets its rows sorted by part_id (the shuffle
        and sort Spark's partitioned writer runs) and writes and
        publishes each part (``_part_writer``): a parquet file under
        ``files/<run_id>/`` whose name is unique to the attempt, so a
        retried or speculative attempt never overwrites another's file,
        then the part's record, ``count(rows)`` as its counters plus
        ``stamp``, and each file's ``stats_cols`` bounds (the columns
        that carry parquet statistics).  Returns {part_id: record} of
        the attempts whose results the action returned: the files a
        commit lists.  The record on disk may be another attempt's, the
        last to publish; it is as complete."""
        from pyspark.sql import functions as SF
        out = os.path.join(self.files_dir, run_id)
        os.makedirs(out, exist_ok=True)
        kernel = _part_writer(os.path.abspath(out), out, run_id, count,
                              stamp, stats_cols, _BEFORE_PUBLISH)
        rows = (df.repartition(tasks, SF.col("part_id"))
                .sortWithinPartitions("part_id")
                .mapInArrow(kernel, "part_id int, record string")
                .collect())
        return {r.part_id: json.loads(r.record)
                for r in sorted(rows, key=lambda r: r.part_id)}

    def _records(self):
        """(path, record) of every publication record in the table."""
        for run in sorted(os.listdir(self.files_dir)):
            d = os.path.join(self.files_dir, run)
            if not os.path.isdir(d):
                continue
            for fn in sorted(os.listdir(d)):
                if _RECORD.fullmatch(fn):
                    path = os.path.join(d, fn)
                    try:
                        with open(path) as f:
                            yield path, json.load(f)
                    except FileNotFoundError:
                        continue        # unpublished meanwhile

    def published(self, exclude: set[int], stamp: dict) -> dict[int, dict]:
        """{part_id: record} of the published parts outside ``exclude``
        whose record carries ``stamp`` and whose files all exist — what
        a resume can commit instead of recomputing.  Of several records
        for one part (runs that each published it), the newest."""
        found: dict[int, tuple[float, dict]] = {}
        for path, rec in self._records():
            p = rec["part_id"]
            if (p in exclude
                    or any(rec.get(k) != v for k, v in stamp.items())
                    or not all(os.path.isfile(f) for f in rec["files"])):
                continue
            t = os.path.getmtime(path)
            if p not in found or t > found[p][0]:
                found[p] = (t, rec)
        return {p: rec for p, (_, rec) in sorted(found.items())}

    def unpublish(self, parts) -> None:
        """Remove the publication records of ``parts``, (run_id,
        part_id) pairs; their data files stay, for a commit or the
        orphan GC.  Once a part is committed the manifest is its
        truth, and a part that must not be committed any more must not
        be adopted either."""
        for run_id, part_id in parts:
            try:
                os.remove(os.path.join(self.files_dir, run_id,
                                       f"part-{part_id:05d}.json"))
            except FileNotFoundError:
                pass

    def _commit_lock(self):
        """Advisory O_EXCL lock around the _CURRENT read-modify-write:
        two concurrent writers (multiple streams, stream + batch — an
        explicitly supported shape) would otherwise both read the same
        parent and one snapshot would fall off the chain, making its
        committed files look like orphans (round-3 review).  Stale
        locks (crashed writer) are stolen after 60 s.  A real catalog
        would use its conditional-swap primitive here."""
        import time as _time
        lock = os.path.join(self.meta_dir, "_COMMIT_LOCK")
        deadline = _time.time() + 120
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(_time.time()).encode())
                os.close(fd)
                return lock
            except FileExistsError:
                try:
                    age = _time.time() - float(open(lock).read() or 0)
                except (OSError, ValueError):
                    age = 0.0
                if age > 60:
                    try:
                        os.remove(lock)   # stale: writer died mid-commit
                    except OSError:
                        pass
                    continue
                if _time.time() > deadline:
                    raise TimeoutError(f"commit lock busy: {lock}")
                _time.sleep(0.05)

    def commit(self, run_id: str, partitions: list[dict],
               committed_at: str, versions: dict | None = None,
               rewrite: bool = False,
               carried_parts: list[int] | None = None,
               expected_parent: str | None | type(...) = ...,
               stats_cols: tuple[str, ...] = (),
               delete: dict | None = None,
               branch: str | None = None) -> str:
        """partitions: [{part_id, files: [...], counters: {...}}].
        Atomic snapshot append; returns the new snapshot id.
        ``versions`` records component versions in the snapshot (the
        reference's /version endpoint analogue, helper_functions.py:12-21).
        ``rewrite=True`` marks a compaction snapshot whose file list
        replaces all older snapshots' files; ``carried_parts`` preserves
        the replaced part ids for resume.  ``expected_parent`` (when
        given, including None-for-empty-table) makes the commit a
        compare-and-swap: if the head moved since the caller read the
        chain, raise CommitConflict under the lock instead of silently
        dropping the interleaved snapshot's files from a rewrite's
        replacement list (round-4 review: compact TOCTOU)."""
        # footer-only reads of exactly the files being committed — the
        # writer-records-bounds contract (never a table scan): each
        # file's footer is opened at most once, for the tracked
        # ``stats_cols`` missing from its bounds and for its record
        # count (Iceberg data_file.record_count, what makes count(*) a
        # metadata-only answer: stats_agg).  Bounds and counts the
        # caller passes (compact() copying them forward for carried
        # files) are NOT re-read, so a rewrite neither re-opens every
        # kept footer (round-4 review) nor permanently strands kept
        # files without bounds for a newly tracked column like a fresh
        # sort_by (second-review).
        import pyarrow.parquet as pq
        for p in partitions:
            fs = {k: dict(v) for k, v in (p.get("file_stats") or {}).items()}
            fr = dict(p.get("file_rows") or {})
            for f in p["files"]:
                have = fs.get(f, {})
                missing = tuple(c for c in stats_cols if c not in have)
                if not missing and f in fr:
                    continue
                try:
                    md = pq.ParquetFile(f).metadata
                except OSError:
                    if missing:
                        raise
                    continue
                fr.setdefault(f, md.num_rows)
                st = self._column_bounds(md, missing)
                if st:
                    fs[f] = {**have, **st}
            if fs:
                p["file_stats"] = fs
            if fr:
                p["file_rows"] = fr
        lock = self._commit_lock()
        try:
            if branch is None:
                head = self.current_snapshot_id()
            else:
                ref = self._read_ref(branch)
                if ref is None or ref["type"] != "branch":
                    raise ValueError(f"{branch!r} is not a branch")
                head = ref["snapshot_id"]
            if expected_parent is not ... and head != expected_parent:
                raise CommitConflict(
                    f"table head moved past {expected_parent!r}")
            snap_id = uuid.uuid4().hex[:16]
            snap = {"snapshot_id": snap_id,
                    "parent_id": head,
                    "run_id": run_id,
                    "committed_at": committed_at,
                    "versions": versions or {},
                    "partitions": partitions}
            sid = self.current_schema_id()
            if sid is not None:
                # files in this snapshot were written under the
                # current schema's names (per-file overrides via a
                # partition's "file_schemas" — rewrite snapshots
                # carrying older files forward)
                snap["schema_id"] = sid
            if delete:
                # equality-delete payload: applies to strictly older
                # snapshots' data (see the merge-on-read section)
                snap["delete"] = {"files": list(delete["files"]),
                                  "key_cols": list(delete["key_cols"]),
                                  "schema_id": sid}
            if rewrite:
                snap["rewrite"] = True
                snap["carried_parts"] = sorted(carried_parts or [])
            path = os.path.join(self.meta_dir, f"snap-{snap_id}.json")
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(snap, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, path)
            if branch is None:
                ptmp = self._current_path + ".tmp"
                with open(ptmp, "w") as f:
                    f.write(snap_id)
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(ptmp, self._current_path)  # the atomic swap
            else:
                self._write_ref(branch, snap_id, "branch")
            return snap_id
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def changed_files(self, since: str | None,
                      as_of: str | None = None) -> list[str]:
        """Data files committed AFTER snapshot ``since`` up to ``as_of``
        (default current) — Iceberg's incremental append scan, the
        pull-based CDC surface: a downstream consumer remembers the
        last snapshot id it processed and reads only newer files.
        ``since=None`` means everything.  A rewrite snapshot in the
        window raises: compaction rewrites history, so file-level
        increments across it double-count — the consumer must fall back
        to a full read (the same contract Iceberg enforces).  The
        ``since=None`` bootstrap short-circuits to the live file set:
        a consumer that has seen nothing cannot double-count, so the
        rewrite guard must not fire (round-4 review)."""
        return [f for f, _ in self.changed_files_with_schema(since, as_of)]

    def changed_files_with_schema(self, since: str | None,
                                  as_of: str | None = None
                                  ) -> list[tuple[str, int | None]]:
        """(file, write-time schema_id) twin of changed_files — the CDC
        read must resolve old-schema files to the current schema just
        like the full read (schema evolution mid-window is legal)."""
        if since is None:
            return self.data_files_with_schema(as_of)
        out: list[tuple[str, int | None]] = []
        for s in self.snapshots(as_of):
            if s["snapshot_id"] == since:
                return out
            if s.get("rewrite"):
                raise ValueError(
                    f"snapshot window crosses rewrite "
                    f"{s['snapshot_id']}; incremental read is invalid — "
                    f"re-read the full table")
            if s.get("delete"):
                raise ValueError(
                    f"snapshot window crosses row-level delete "
                    f"{s['snapshot_id']}; append-only CDC cannot "
                    f"represent deletes — re-read the full table "
                    f"(Iceberg's incremental append scan contract)")
            sid = s.get("schema_id")
            for p in s["partitions"]:
                fsch = p.get("file_schemas") or {}
                out.extend((f, fsch.get(f, sid)) for f in p["files"])
        raise ValueError(f"snapshot {since} not in the current "
                         f"chain (expired?)")

    def read_changes(self, spark, since: str | None,
                     as_of: str | None = None):
        """Incremental read: rows appended after snapshot ``since``,
        projected to the current schema.  The ``since=None`` bootstrap
        is the full read (delete-aware); a window crossing a rewrite
        or a row-level delete raises (changed_files contract)."""
        if since is None:
            try:
                return self.read(spark, as_of)
            except FileNotFoundError:
                return None
        fws = self.changed_files_with_schema(since, as_of)
        if not fws:
            return None
        return self._read_mapped(spark, fws)

    # -- maintenance ------------------------------------------------------
    @staticmethod
    def zorder_value(cols: list[str], bits: int = 16):
        """Z-value Column: round-robin bit interleave of N non-negative
        integer columns (bit i of col j lands at position i*N + j) —
        Iceberg's rewrite_data_files(strategy=>'sort', sort_order=>
        zorder(...)).  Range-clustering on this value gives every
        output file a TIGHT bounding box on all interleaved columns
        simultaneously, which is what multi-dimensional file skipping
        (scan_box) prunes against; a linear sort can only bound its
        leading column.  Pure shift/mask expression tree (2·bits·N
        codegen'd integer ops), no UDF."""
        from pyspark.sql import functions as SF
        n = len(cols)
        z = SF.lit(0).cast("long")
        for j, c in enumerate(cols):
            v = SF.col(c).cast("long")
            for i in range(bits):
                z = z + SF.shiftleft(
                    SF.shiftright(v, i).bitwiseAND(SF.lit(1)),
                    i * n + j)
        return z

    def compact(self, spark, target_file_bytes: int = 128 << 20,
                committed_at: str = "",
                versions: dict | None = None,
                sort_by: str | None = None,
                zorder_by: tuple[str, ...] | None = None,
                stats_cols: tuple[str, ...] | None = None) -> dict:
        """Maintenance: rewrite small data files into ~target-size ones
        (Iceberg's rewrite_data_files — the small-files problem: a
        wave-per-commit pipeline at 10^12 docs accretes millions of
        sub-split files whose per-file open/footer costs dominate scan
        time).  Files under target/2 are read back (only those — files
        already at size are carried by reference, never rewritten),
        coalesced to ceil(bytes/target) outputs, and committed as a
        REWRITE snapshot via compare-and-swap on the snapshot the scan
        saw: if a wave commits while the rewrite is being written (its
        files would otherwise silently fall out of the replacement file
        list — round-4 review), the CAS fails and the new wave's files
        are folded into the kept set before retrying.  A concurrent
        COMPACTION surfaces as a rewrite inside the retry window and
        aborts this one (the other rewrite already solved the
        small-files problem).  Old files stay on disk for time travel
        until expire_snapshots.

        ``sort_by``: cluster the rewritten data on a column (Iceberg's
        sort-order rewrite): range-repartition into the output files +
        sort within each, so every output file covers a DISJOINT value
        range, its footer min/max bounds are committed as file_stats,
        and scan() prunes a range query down to the one or two files
        that can hold it — the data-layout half of manifest file
        skipping.  Unsorted compaction still records bounds; they just
        all overlap.

        ``stats_cols=None`` (default) re-records bounds for exactly the
        columns the table already tracks — the union of stats keys in
        the live manifests, plus ``sort_by`` — so a rewrite never
        silently narrows the pruning surface a hardcoded default would
        (round-4 review).  Kept files' bounds for already-tracked
        columns are copied FORWARD from the manifests rather than
        re-read — at 10^12-doc scale the kept set is millions of
        footers the rewrite never opened; only a column the table did
        not previously track (a fresh ``sort_by``) incurs a one-time
        footer read of the kept files, the price of making them
        prunable on it (second-review)."""
        base = self.current_snapshot_id()
        data, deletes = self._live_set(as_of=base)
        sid_of = {f: sid for f, sid, _ in data}
        seq_of = {f: seq for f, _, seq in data}
        files = [f for f, _, _ in data]
        sizes = {f: os.path.getsize(f) for f in files}
        # files any pending equality-delete applies to are FORCED into
        # the rewrite regardless of size: the rewrite applies deletes
        # physically and its snapshot carries no delete state, so kept
        # files must have none pending
        affected = {f for f in files
                    if any(dseq > seq_of[f] for dseq, *_ in deletes)}
        small = [f for f in files
                 if sizes[f] < target_file_bytes // 2 or f in affected]
        if len(small) < 2 and not affected:
            return {"rewritten": 0, "kept": len(files),
                    "snapshot_id": None}
        keep = [f for f in files if f not in set(small)]
        n_out = max(1, -(-sum(sizes[f] for f in small)
                         // target_file_bytes))
        run_id = "compact-" + uuid.uuid4().hex[:8]
        # schema-mapped + delete-applying read: rewritten rows come out
        # under the CURRENT schema's names (rename applied, added
        # columns NULL-backfilled) with deleted keys physically gone —
        # compaction is where old-schema files and merge-on-read
        # deletes converge
        df = self._grouped_read(
            spark, [(f, sid_of[f], seq_of[f]) for f in small], deletes)
        if zorder_by:
            # range-cluster on the interleaved Z-value, then project it
            # away (narrow — within-partition order survives): every
            # output file gets a tight bounding box on ALL zorder_by
            # columns, the layout scan_box prunes against
            cols_out = df.columns
            df = (df.withColumn("__z", self.zorder_value(list(zorder_by)))
                  .repartitionByRange(n_out, "__z")
                  .sortWithinPartitions("__z")
                  .select(*cols_out))
        elif sort_by:
            df = (df.repartitionByRange(n_out, sort_by)
                  .sortWithinPartitions(sort_by))
        else:
            df = df.coalesce(n_out)
        new_files = self.stage(df, run_id).get((), [])
        if stats_cols is None:
            # stats keys are write-time names: map each through its
            # file's schema to the CURRENT name before unioning, so a
            # renamed tracked column stays tracked under its new name
            prior_all = self.data_file_stats(as_of=base)
            tracked = tuple(sorted({
                cn for f, st in prior_all.items() for c in st
                if (cn := self._current_name(c, sid_of.get(f)))}))
        else:
            tracked = stats_cols
        # a rewrite snapshot STOPS the stats walk, so it must
        # re-record bounds for every stats column or the wave
        # commits' pruning metadata is destroyed (round-4 review) —
        # sort_by rides along
        cols = tuple(dict.fromkeys(
            c for c in (*tracked, sort_by, *(zorder_by or ())) if c))
        # the rewritten outputs are immutable: footer-read their
        # bounds ONCE here, not inside the CAS loop where every
        # conflict retry would redo the whole pass (second-review)
        new_stats = {}
        for f in new_files:
            st = self.file_column_stats(f, cols)
            if st:
                new_stats[f] = st
        while True:
            prior = self.data_file_stats(as_of=base)
            prior_rows = self.data_file_rows(as_of=base)
            try:
                part = {"part_id": -1, "files": keep + new_files,
                        "counters": {},
                        # kept files' bounds and row counts copied
                        # forward — commit() footer-reads only what is
                        # still missing
                        "file_stats": {
                            **{f: prior[f] for f in keep
                               if prior.get(f)},
                            **new_stats},
                        "file_rows": {f: prior_rows[f] for f in keep
                                      if f in prior_rows}}
                # kept files keep their own write-time schema ids (the
                # rewrite snapshot's schema_id covers only the files it
                # actually rewrote under the current schema)
                fsch = {f: sid_of[f] for f in keep
                        if sid_of.get(f) is not None}
                if fsch:
                    part["file_schemas"] = fsch
                snap_id = self.commit(
                    run_id, [part],
                    committed_at, versions, rewrite=True,
                    carried_parts=sorted(self.committed_parts(as_of=base)),
                    expected_parent=base,
                    stats_cols=cols)
                break
            except CommitConflict:
                head = self.current_snapshot_id()
                # raises ValueError if a concurrent rewrite OR
                # row-level delete landed — correct both times: a
                # rewrite already replaced history, and a delete makes
                # this rewrite's replacement list stale (it would
                # resurrect the deleted rows); the staged outputs stay
                # orphans until GC, the caller re-compacts.  The
                # folded wave's stats and row counts are re-derived
                # from the new head on the next pass (prior and
                # prior_rows are rebuilt per attempt).
                folded = self.changed_files_with_schema(base, as_of=head)
                keep.extend(f for f, _ in folded)
                sid_of.update(folded)
                base = head
        return {"rewritten": len(small), "kept": len(keep),
                "new_files": len(new_files), "snapshot_id": snap_id}

    def expire_snapshots(self, keep: int = 2,
                         grace_seconds: float = 0.0) -> dict:
        """Maintenance: drop snapshot history beyond the newest ``keep``
        chain entries, then GC data files no surviving snapshot
        references (Iceberg's expire_snapshots).  After a compaction,
        this is what actually reclaims the rewritten small files —
        until then they back time travel.

        Safety horizon (round-4 review): ordinary snapshots are DELTA
        manifests — only a rewrite snapshot lists the complete live
        file set.  Expiring a delta that no kept rewrite supersedes
        removes the only references to its files and the orphan GC
        then deletes committed data.  So expiry never reaches above
        the newest rewrite snapshot: with no rewrite in the chain
        nothing is safely expirable (run compact() first), and
        ``keep`` can only widen the kept window, never narrow it past
        that rewrite.  Real Iceberg has no such clamp because every
        snapshot there carries a full manifest list."""
        chain = self.snapshots()
        rewrite_idx = next((i for i, s in enumerate(chain)
                            if s.get("rewrite")), None)
        cut = (len(chain) if rewrite_idx is None
               else max(keep, rewrite_idx + 1))
        # named refs pin their whole parent chain: a branch forked
        # below the cut (or a tag on old history) keeps those
        # snapshots alive until the ref is dropped
        pinned = self._ref_reachable()
        expired = [s for s in chain[cut:]
                   if s["snapshot_id"] not in pinned]
        for s in expired:
            try:
                os.remove(os.path.join(
                    self.meta_dir, f"snap-{s['snapshot_id']}.json"))
            except FileNotFoundError:
                pass
        # sweep off-chain snapshots no ref reaches — the history of a
        # dropped audit branch (or a rolled-back head) would otherwise
        # leak snap files AND pin its data files against orphan GC
        # forever.  The grace horizon skips snap files younger than
        # the window: a commit writes its snapshot a beat before the
        # branch-ref/head pointer swings to it.
        n_expired = len(expired)
        reachable = ({s["snapshot_id"] for s in chain} | pinned)
        horizon = time.time() - grace_seconds
        for fn in os.listdir(self.meta_dir):
            if not (fn.startswith("snap-") and fn.endswith(".json")):
                continue
            sid = fn[len("snap-"):-len(".json")]
            if sid in reachable:
                continue
            path = os.path.join(self.meta_dir, fn)
            try:
                if os.path.getmtime(path) > horizon:
                    continue
                os.remove(path)
            except FileNotFoundError:
                continue
            n_expired += 1
        return {"expired_snapshots": n_expired,
                "skipped_unsafe": max(0, min(cut, len(chain)) - keep),
                "removed_files": self.expire_orphans(
                    grace_seconds=grace_seconds)}

    def _all_referenced(self) -> set[str]:
        """realpaths referenced by ANY snapshot file in the metadata dir
        — not just the current chain: files behind a rewrite snapshot
        are invisible to data_files() but still back time travel until
        their snapshots are expired, so orphan GC must honor them."""
        referenced: set[str] = set()
        for fn in os.listdir(self.meta_dir):
            if not (fn.startswith("snap-") and fn.endswith(".json")):
                continue
            with open(os.path.join(self.meta_dir, fn)) as f:
                s = json.load(f)
            for p in s["partitions"]:
                referenced.update(os.path.realpath(x) for x in p["files"])
            # equality-delete files back time travel exactly like data
            # files — GC must honor them until their snapshots expire
            if s.get("delete"):
                referenced.update(os.path.realpath(x)
                                  for x in s["delete"]["files"])
        return referenced

    def expire_orphans(self, keep_run_ids: set[str] | None = None,
                       grace_seconds: float = 0.0) -> int:
        """Maintenance: delete data files not referenced by any snapshot
        (the reference's result-GC analogue, response_preparation.py:71-80).

        Paths are realpath-normalized on BOTH sides before comparing:
        manifests record paths as the writer spelled its table root
        (relative, symlinked, ...), and a raw string compare against
        the walked paths would classify every live file as an orphan
        and delete the whole table (round-3 review).

        ``grace_seconds`` skips files younger than the horizon —
        Iceberg's remove_orphan_files ``older_than`` contract: a live
        run's staged-but-uncommitted wave files are unreferenced by
        construction, and GC'ing them mid-run deletes rows the run is
        about to commit: its commit would list missing files, or none
        for a part that had rows (round-4 review).  Callers that cannot
        enumerate live run_ids (the CLI) pass a grace window instead.

        A publication record (stage_parts) goes with its files: it is
        removed once one of them is gone or all are committed, so a
        resume never adopts a part whose file the GC took."""
        referenced = self._all_referenced()
        horizon = time.time() - grace_seconds
        removed = 0
        for dirpath, _, files in os.walk(self.files_dir):
            # keep-filter matches the run_id as a whole path COMPONENT
            # (files/<run_id>/wave-NNNN/...): substring matching would
            # wrongly keep a run whose id is a prefix of another's
            parts = set(os.path.relpath(dirpath, self.files_dir).split(os.sep))
            if keep_run_ids and parts & keep_run_ids:
                continue
            for fn in filter(_is_data_file, files):
                p = os.path.realpath(os.path.join(dirpath, fn))
                if p not in referenced:
                    try:
                        if os.path.getmtime(p) > horizon:
                            continue    # inside the grace window
                        os.remove(p)
                    except FileNotFoundError:
                        continue        # raced with another GC
                    removed += 1
        for path, rec in self._records():
            if keep_run_ids and rec["run_id"] in keep_run_ids:
                continue
            files = [os.path.realpath(f) for f in rec["files"]]
            if (not all(map(os.path.isfile, files))
                    or all(f in referenced for f in files)):
                self.unpublish([(rec["run_id"], rec["part_id"])])
        return removed
