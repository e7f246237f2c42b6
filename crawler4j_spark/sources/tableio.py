"""SnapshotStore: Iceberg-style atomic multi-table snapshot commits on Parquet.

No iceberg-spark runtime jar ships in this sandbox (SURVEY §7), so the engine
codes against this thin adapter with the same semantics an Iceberg catalog
would give it:

* a *snapshot* is an immutable manifest (JSON) listing, per table, the data
  files that make up the table plus per-file column stats (min/max) for
  file pruning;
* a *commit* atomically replaces the current-snapshot pointer
  (``os.replace`` of the ``_current`` file — atomic on POSIX), after the new
  manifest and all new data files are fully written. A crashed run leaves the
  previous snapshot intact: staged files are unreferenced garbage, never
  visible — this is what makes every crawl round exactly-once resumable;
* commits can add files to a table, remove files (e.g. claimed frontier
  files), or replace the table wholesale;
* manifest ``props`` carry the engine's scalar checkpoint state (round id,
  docid high-water mark, politeness clock, ...) with per-round lineage;
* every staging records the schema it wrote, the Iceberg schema-id analog:
  the entries carry a content-addressed ``schema_id`` (a hash of the Spark
  JSON schema, every field nullable as a Parquet read reports it) and the
  manifest's ``schemas`` map holds id → Spark JSON for exactly the ids that
  live entries reference. ``read`` hands the recorded schema to the Parquet
  reader when every requested file carries the same known id, which skips
  the one-task footer-inference job Spark otherwise launches per read.
  Entries without an id (stores written before ids existed), mixed ids and
  ids absent from the map fall back to inference.

At 10^10-row scale the frontier table is bucketed so a claim only rewrites
the files whose (priority, depth, docid) min/max range overlaps the head of
the queue; ``files_overlapping_head`` implements that pruning using the
per-file stats recorded at write time.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

__all__ = ["SnapshotStore"]


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable — the
    schema a Parquet read reports for data written with ``dt``."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType), True,
                                       f.metadata) for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType),
                       True)
    return dt


class SnapshotStore:
    def __init__(self, root: str, spark: SparkSession) -> None:
        self.root = root
        self.spark = spark
        # schema_id -> Spark JSON schema; ids are content hashes, so entries
        # never go stale and the cache is shared by every snapshot version
        self._schemas: dict[str, str] = {}
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "_staging"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        if not os.path.exists(self._current_path):
            self._write_manifest({"version": 0, "tables": {}, "props": {}},
                                 first=True)

    # -- manifest plumbing -------------------------------------------------

    @property
    def _current_path(self) -> str:
        return os.path.join(self.root, "_current")

    def manifest(self) -> dict:
        with open(self._current_path) as f:
            name = f.read().strip()
        with open(os.path.join(self.root, "_manifests", name)) as f:
            return json.load(f)

    def _write_manifest(self, m: dict, first: bool = False) -> None:
        name = f"manifest-{m['version']:08d}.json"
        path = os.path.join(self.root, "_manifests", name)
        with open(path, "w") as f:
            json.dump(m, f)
            f.flush()
            os.fsync(f.fileno())
        tmp = self._current_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._current_path)  # the atomic commit point

    @property
    def props(self) -> dict:
        return self.manifest().get("props", {})

    # -- reading -----------------------------------------------------------

    def table_files(self, table: str) -> list[dict]:
        return self.manifest().get("tables", {}).get(table, {}).get("files", [])

    def _recorded_schema(self, entries: list[dict]) -> Optional[StructType]:
        """The schema every entry was staged with, or None when the entries
        carry no id, mixed ids, or an id this store cannot resolve (the
        caller then lets Spark infer it from a footer)."""
        ids = {e.get("schema_id") for e in entries}
        if len(ids) != 1 or None in ids:
            return None
        (sid,) = ids
        if sid not in self._schemas:
            self._schemas.update(self.manifest().get("schemas", {}))
        js = self._schemas.get(sid)
        return None if js is None else StructType.fromJson(json.loads(js))

    def read(self, table: str, files: Optional[list[dict]] = None,
             merge_schema: bool = False) -> Optional[DataFrame]:
        """DataFrame over the table's current snapshot (or a file subset);
        None when the table is empty/absent. Files staged with one recorded
        schema are read without a schema-inference job (module docstring).
        ``merge_schema=True`` unions the per-file schemas with type
        WIDENING (columns absent from older files read as null; int columns
        widened to long where a newer release widened the type, e.g.
        fetch_log.process_seq in round-5 stores vs earlier ones) — used by
        result views over append-only logs whose schema evolved across
        releases; costs a footer read per file, so keep it out of the
        per-round hot path."""
        entries = self.table_files(table) if files is None else files
        paths = [os.path.join(self.root, e["path"]) for e in entries]
        if not paths:
            return None
        if merge_schema:
            return self._read_merged(table, paths)
        schema = self._recorded_schema(entries)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(*paths)

    # promotable atomic types for cross-release schema widening (parquet
    # mergeSchema refuses these, so the merged read handles them itself)
    _WIDEN = {  # keys are DataType.simpleString() names
        frozenset({"tinyint", "smallint"}): "smallint",
        frozenset({"tinyint", "int"}): "int",
        frozenset({"smallint", "int"}): "int",
        frozenset({"tinyint", "bigint"}): "bigint",
        frozenset({"smallint", "bigint"}): "bigint",
        frozenset({"int", "bigint"}): "bigint",
        frozenset({"float", "double"}): "double",
    }

    def _read_merged(self, table: str, paths: list[str]) -> DataFrame:
        """Union of the per-file-schema groups, missing columns as nulls and
        promotable numeric types widened (int→long etc.). Equal-schema
        stores (the common case) take the plain single-read path."""
        import pyarrow.parquet as pq

        groups: dict[tuple, list[str]] = {}
        for p in paths:
            sch = pq.read_schema(p)
            key = tuple(zip(sch.names, map(str, sch.types)))
            groups.setdefault(key, []).append(p)
        if len(groups) == 1:
            return self.spark.read.parquet(*paths)

        frames = [self.spark.read.parquet(*ps) for ps in groups.values()]
        target: dict[str, object] = {}       # column -> widened simpleString
        for df in frames:
            for f in df.schema.fields:
                t = f.dataType.simpleString()
                prev = target.get(f.name)
                if prev is None or prev == t:
                    target[f.name] = t
                else:
                    wide = self._WIDEN.get(frozenset({prev, t}))
                    if wide is None:
                        raise ValueError(
                            f"{table}: column {f.name!r} has incompatible "
                            f"types across snapshot files: {prev} vs {t}")
                    target[f.name] = wide

        from pyspark.sql import functions as F
        out = None
        for df in frames:
            cols = [
                (F.col(name) if df.schema[name].dataType.simpleString() == t
                 else F.col(name).cast(t)).alias(name)
                if name in df.columns
                else F.lit(None).cast(t).alias(name)
                for name, t in target.items()
            ]
            part = df.select(*cols)
            out = part if out is None else out.unionByName(part)
        return out

    def row_count(self, table: str) -> int:
        return sum(e.get("rows", 0) for e in self.table_files(table))

    def files_overlapping_head(
        self, table: str, key_cols: list[str], limit_rows: int
    ) -> tuple[list[dict], list[dict]]:
        """Split a key-sorted table's files into (head, rest): the minimal
        stats-ordered prefix of files guaranteed to contain the global first
        ``limit_rows`` rows by ``key_cols``. Files without stats always land
        in the head (safe)."""
        entries = self.table_files(table)

        def lo(e):
            s = e.get("stats") or {}
            return tuple(
                s.get(c, [None, None])[0] if s.get(c, [None])[0] is not None
                else float("-inf")
                for c in key_cols
            )

        ordered = sorted(entries, key=lo)
        head, rest, acc = [], [], 0
        for e in ordered:
            if acc < limit_rows:
                head.append(e)
                acc += e.get("rows", 0)
            else:
                rest.append(e)
        # any file whose min key sorts below the max key already accepted
        # would also be needed; since files are min-sorted the prefix rule
        # above over-approximates only when ranges overlap — add overlaps
        if head and rest:
            hmax = None
            for e in head:
                s = e.get("stats") or {}
                hi = tuple(
                    s.get(c, [None, None])[1] if s.get(c, [None, None])[1] is not None
                    else float("inf")
                    for c in key_cols
                )
                hmax = hi if hmax is None or hi > hmax else hmax
            extra = [e for e in rest if lo(e) <= hmax]
            rest = [e for e in rest if e not in extra]
            head.extend(extra)
        return head, rest

    # -- writing -----------------------------------------------------------

    def stage_dataframe(
        self, df: DataFrame, stats_cols: Optional[list[str]] = None
    ) -> list[dict]:
        """Write ``df`` to new data files; return manifest entries (not yet
        committed). Computes per-file row counts and min/max stats for
        ``stats_cols`` from the Parquet footers (no extra scan), and tags
        each entry with the ``schema_id`` of the schema written."""
        import pyarrow.parquet as pq

        schema_json = _as_nullable(df.schema).json()
        schema_id = hashlib.sha256(schema_json.encode()).hexdigest()[:16]
        self._schemas[schema_id] = schema_json
        stage = os.path.join(self.root, "_staging", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(stage)
        try:
            staged_files = sorted(os.listdir(stage))
        except FileNotFoundError:
            # Observed once in ~400 stagings on tmpfs (round 2): the listdir
            # right after a successful write raised FileNotFoundError. The
            # UUID dir is ours alone, so the only legitimate writer is the
            # Spark job — retry the write once; a second miss is a real
            # fault and must surface with state, not crash a 1000-round
            # crawl on a one-off flake.
            df.write.mode("overwrite").parquet(stage)
            try:
                staged_files = sorted(os.listdir(stage))
            except FileNotFoundError:
                parent = os.path.join(self.root, "_staging")
                raise RuntimeError(
                    f"staging dir vanished twice: {stage}; "
                    f"_staging exists={os.path.isdir(parent)} entries="
                    f"{os.listdir(parent) if os.path.isdir(parent) else None}"
                ) from None
        entries = []
        for fn in staged_files:
            if not fn.endswith(".parquet"):
                continue
            final_name = f"data/{uuid.uuid4().hex}.parquet"
            src = os.path.join(stage, fn)
            dst = os.path.join(self.root, final_name)
            shutil.move(src, dst)
            meta = pq.ParquetFile(dst).metadata
            stats: dict[str, list] = {}
            if stats_cols:
                idx = {name: i for i, name in enumerate(meta.schema.names)}
                for c in stats_cols:
                    if c not in idx:
                        continue
                    mins, maxs = [], []
                    for rg in range(meta.num_row_groups):
                        st = meta.row_group(rg).column(idx[c]).statistics
                        if st is None or not st.has_min_max:
                            mins, maxs = [], []
                            break
                        mins.append(st.min)
                        maxs.append(st.max)
                    if mins:
                        stats[c] = [min(mins), max(maxs)]
            entries.append({"path": final_name, "rows": meta.num_rows,
                            "stats": stats, "schema_id": schema_id})
        shutil.rmtree(stage, ignore_errors=True)
        return entries

    def commit(
        self,
        adds: Optional[dict[str, list[dict]]] = None,
        removes: Optional[dict[str, list[dict]]] = None,
        replaces: Optional[dict[str, list[dict]]] = None,
        props: Optional[dict] = None,
        lineage: Optional[dict] = None,
    ) -> int:
        """Atomically publish a new snapshot. ``adds``/``removes``/``replaces``
        map table → staged manifest entries (from ``stage_dataframe``).
        Returns the new snapshot version."""
        m = self.manifest()
        tables = {t: {"files": list(v.get("files", []))}
                  for t, v in m.get("tables", {}).items()}
        for t, entries in (replaces or {}).items():
            tables[t] = {"files": list(entries)}
        for t, entries in (removes or {}).items():
            keep = {e["path"] for e in entries}
            cur = tables.get(t, {"files": []})["files"]
            tables[t] = {"files": [e for e in cur if e["path"] not in keep]}
        for t, entries in (adds or {}).items():
            cur = tables.setdefault(t, {"files": []})["files"]
            cur.extend(entries)
        new_props = dict(m.get("props", {}))
        if props:
            new_props.update(props)
        self._schemas.update(m.get("schemas", {}))
        live_ids = {e["schema_id"] for v in tables.values() for e in v["files"]
                    if e.get("schema_id") in self._schemas}
        new = {
            "version": m["version"] + 1,
            "tables": tables,
            "schemas": {sid: self._schemas[sid] for sid in sorted(live_ids)},
            "props": new_props,
            "committed_at": time.time(),
            "lineage": lineage or {},
        }
        self._write_manifest(new)
        return new["version"]

    def snapshot_versions(self) -> list[int]:
        """Version numbers of every retained snapshot manifest, oldest
        first (driver-side metadata walk over tiny JSONs)."""
        mdir = os.path.join(self.root, "_manifests")
        return sorted(
            int(fn[len("manifest-"):-len(".json")])
            for fn in os.listdir(mdir)
            if fn.startswith("manifest-") and fn.endswith(".json"))

    def manifest_at(self, version: int) -> dict:
        """The manifest of a specific retained snapshot (its ``props``
        carry that round's scalar checkpoint state)."""
        path = os.path.join(self.root, "_manifests",
                            f"manifest-{version:08d}.json")
        if not os.path.exists(path):
            raise ValueError(f"no retained snapshot with version {version}; "
                             f"have {self.snapshot_versions()}")
        with open(path) as f:
            return json.load(f)

    def read_at(self, table: str, version: int) -> Optional[DataFrame]:
        """Time travel: the table AS OF an earlier committed snapshot —
        the Iceberg ``VERSION AS OF`` analog. Valid for any snapshot whose
        data files are still on disk; ``gc_unreferenced`` is the
        expire-snapshots analog (it keeps only the CURRENT snapshot's
        files), after which reading an expired version raises instead of
        returning a partial table."""
        entries = (self.manifest_at(version).get("tables", {})
                   .get(table, {}).get("files", []))
        missing = [e["path"] for e in entries
                   if not os.path.exists(os.path.join(self.root, e["path"]))]
        if missing:
            raise ValueError(
                f"snapshot {version} of '{table}' has been expired by "
                f"gc_unreferenced ({len(missing)} data file(s) gone, "
                f"e.g. {missing[0]})")
        return self.read(table, files=entries)

    def lineage_history(self) -> list[dict]:
        """Lineage dicts of every retained snapshot manifest, oldest first.
        Manifests are tiny JSON; this is a driver-side metadata walk."""
        mdir = os.path.join(self.root, "_manifests")
        out = []
        for fn in sorted(os.listdir(mdir)):
            with open(os.path.join(mdir, fn)) as f:
                m = json.load(f)
            if m.get("lineage"):
                out.append(m["lineage"])
        return out

    def gc_unreferenced(self) -> int:
        """Delete data files not referenced by the current snapshot (crash
        leftovers). Returns the number of files removed."""
        referenced = {
            e["path"]
            for t in self.manifest().get("tables", {}).values()
            for e in t.get("files", [])
        }
        removed = 0
        data_dir = os.path.join(self.root, "data")
        for fn in os.listdir(data_dir):
            rel = f"data/{fn}"
            if rel not in referenced:
                os.remove(os.path.join(data_dir, fn))
                removed += 1
        shutil.rmtree(os.path.join(self.root, "_staging"), ignore_errors=True)
        os.makedirs(os.path.join(self.root, "_staging"), exist_ok=True)
        return removed
