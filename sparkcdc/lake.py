"""LakeTable — a versioned, hash-bucketed Parquet table with atomic commits,
copy-on-write MERGE, field-id schema evolution and time travel.

This is the sink layer of the engine: the stand-in for an Iceberg table
(no Iceberg runtime jar ships in this environment). The design deliberately
mirrors Iceberg's model so the production swap is mechanical:

- data files are immutable parquet, grouped into ``n_buckets`` hash buckets
  of the primary key (Iceberg ``bucket(N, key)`` partition transform);
- every commit writes a new JSON *manifest* listing the exact data files of
  that version, then atomically flips a VERSION pointer (Iceberg's metadata
  pointer swap). Readers of version K never see a torn state;
- MERGE is shuffle-to-storage: the reduced batch is hash-partitioned once
  onto its buckets and lands as bucket-partitioned *delta* files — current
  state is never shuffled. In merge-on-read mode (Iceberg
  position/equality-delete analog) the commit stops there, O(batch) bytes;
  in copy-on-write mode the affected buckets are immediately compacted.
  Compaction itself is a storage-partitioned join: one task per bucket
  reads that bucket's base+delta files directly (pyarrow) and rewrites
  them — no exchange, no sort, ever, of table state;
- schema evolution is field-id based (Iceberg-style): rename keeps the id,
  so files written before the rename are mapped correctly at read time;
  int->long / float->double widening is a read-side cast of old files;
- exactly-once: each commit records the (writer, batch_id) that produced it
  plus the source offsets; replaying an already-committed batch is a no-op
  (idempotent fencing, cf. reference offset commit at
  embedded/EmbeddedEngine.java:885-902 which is only at-least-once — the
  fence is what upgrades the effect to exactly-once, SURVEY §2.9).

The MERGE itself is the Spark-idiomatic emulation of Iceberg
``MERGE INTO t USING b ON key WHEN MATCHED AND op='d' THEN DELETE
WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``:
a left-anti join of current state against batch keys, unioned with batch
upserts (reference sink semantics: jdbc-sink/JdbcChangeEventSink.java:72-158,
dialect MERGE at dialect/sqlserver/SqlServerDatabaseDialect.java:128-130).
The batch MUST already be reduced to one row per key (apply.py, cf.
ReducedRecordBuffer.java:24-79) — exactly the reference's contract.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_HASH_SEED = 7541  # fixed: bucket assignment must be stable forever

_TYPE_TO_SPARK = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
}

#: legal type widenings (Iceberg evolution rules; also the sink rule that
#: only safe promotions are applied automatically, JdbcChangeEventSink.java:305-353)
WIDENINGS = {("int", "long"), ("float", "double"), ("int", "double")}


def type_of(name: str) -> T.DataType:
    if name.startswith("decimal"):
        p, s = name[name.find("(") + 1 : -1].split(",")
        return T.DecimalType(int(p), int(s))
    return _TYPE_TO_SPARK[name]


def arrow_type_of(name: str):
    """The pyarrow dtype for a manifest type name (used by the
    storage-partitioned compaction path, which reads parquet with pyarrow
    inside Spark tasks)."""
    import pyarrow as pa

    if name.startswith("decimal"):
        p, s = name[name.find("(") + 1 : -1].split(",")
        return pa.decimal128(int(p), int(s))
    return {
        "string": pa.string(),
        "int": pa.int32(),
        "long": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
    }[name]


@dataclass
class Field:
    id: int
    name: str
    type: str
    nullable: bool = True
    #: fill value for rows/files that predate this column (K3: the sink may
    #: auto-add optional OR defaulted columns, JdbcChangeEventSink.java:325-331)
    default: object = None

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type,
                "nullable": self.nullable, "default": self.default}

    @staticmethod
    def from_json(d: dict) -> "Field":
        return Field(d["id"], d["name"], d["type"], d["nullable"],
                     d.get("default"))


#: a full (non-delta) manifest is forced at least every N commits so the
#: delta-chain resolution walk stays O(N) tiny files (see _write_manifest)
FULL_MANIFEST_EVERY = 16


@dataclass
class Manifest:
    version: int
    parent: int | None
    n_buckets: int
    key_cols: list[str]
    epoch: int
    epochs: dict[str, list[Field]]  # epoch -> field list (full schema history)
    files: list[dict]  # {path, bucket, epoch}
    summary: dict = field(default_factory=dict)
    #: delta-chain depth of the ON-DISK representation (0 = stored full);
    #: in memory a Manifest is ALWAYS fully resolved
    chain: int = 0

    @property
    def fields(self) -> list[Field]:
        return self.epochs[str(self.epoch)]

    def spark_schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(f.name, type_of(f.type), f.nullable) for f in self.fields]
        )

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "parent": self.parent,
            "n_buckets": self.n_buckets,
            "key_cols": self.key_cols,
            "epoch": self.epoch,
            "epochs": {k: [f.to_json() for f in v] for k, v in self.epochs.items()},
            "files": self.files,
            "summary": self.summary,
        }

    @staticmethod
    def from_json(d: dict) -> "Manifest":
        return Manifest(
            version=d["version"],
            parent=d["parent"],
            n_buckets=d["n_buckets"],
            key_cols=d["key_cols"],
            epoch=d["epoch"],
            epochs={k: [Field.from_json(f) for f in v] for k, v in d["epochs"].items()},
            files=d["files"],
            summary=d["summary"],
            chain=d.get("chain", 0),
        )


def apply_schema_changes(
    fields: list[Field], key_cols: list[str], changes: list[dict]
) -> tuple[list[Field], list[str]]:
    """Pure field-id schema evolution shared by every TableSink impl:
    add (nullable/defaulted only), rename (id kept so old files stay
    readable), widen (legal promotions; key columns rejected — bucket
    hashing is type-sensitive), drop (id leaves the schema). Returns the
    new field list and the (possibly renamed) key columns."""
    flds = [Field(f.id, f.name, f.type, f.nullable, f.default) for f in fields]
    max_id = max((f.id for f in flds), default=0)
    for ch in changes:
        if ch["action"] == "add":
            max_id += 1
            flds.append(
                Field(max_id, ch["name"], ch["type"], True, ch.get("default"))
            )
        elif ch["action"] == "rename":
            fld = next(f for f in flds if f.name == ch["from"])
            fld.name = ch["to"]
        elif ch["action"] == "widen":
            fld = next(f for f in flds if f.name == ch["name"])
            if fld.name in key_cols:
                # bucket assignment hashes by value AND Spark type
                # (xxhash64(int) != xxhash64(long) for the same number):
                # widening a key column would silently re-map keys to
                # different buckets than their existing files
                raise ValueError(
                    f"cannot widen key column {fld.name!r}: bucket "
                    "hashing is type-sensitive; rewrite the table instead"
                )
            if (fld.type, ch["type"]) not in WIDENINGS:
                raise ValueError(f"illegal widen {fld.type}->{ch['type']}")
            fld.type = ch["type"]
        elif ch["action"] == "drop":
            # Iceberg-style drop: the field id leaves the current
            # schema; old files keep the column bytes, readers skip it
            if ch["name"] in key_cols:
                raise ValueError(f"cannot drop key column {ch['name']!r}")
            fld = next(f for f in flds if f.name == ch["name"])
            flds.remove(fld)
        else:
            raise ValueError(f"unknown action {ch['action']}")
    renames = {c["from"]: c["to"] for c in changes if c["action"] == "rename"}
    return flds, [renames.get(k, k) for k in key_cols]


class CommitConflict(Exception):
    """Another writer committed this version first (optimistic concurrency,
    Iceberg-style): the caller must re-read the table state and retry its
    merge on top of the new current version."""


def _atomic_write(path: str, text: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, path)  # atomic on POSIX


def _exclusive_write(path: str, text: str) -> None:
    """Create-or-fail write: the first writer of a given version wins;
    concurrent committers of the same version get CommitConflict."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except FileExistsError:
        raise CommitConflict(path) from None
    with os.fdopen(fd, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())


#: merge writes land in ``<root>/_staging/<uuid>/__t=<i>/b=<bucket>``
#: first; each table's ``__t=<i>`` slice is then renamed into its own
#: commit dir
STAGING_DIR = "_staging"

#: an unreferenced dir younger than this may be a concurrent writer's
#: in-flight write, so the orphan sweep leaves it alone
ORPHAN_GRACE_SEC = 600


def bucket_of(key_cols: list[str], n_buckets):
    """``pmod(xxhash64(BUCKET_HASH_SEED, key), n)`` — the on-disk bucket
    invariant. ``n_buckets`` is an int or a Column (per-row bucket count
    of a multi-table write)."""
    n = n_buckets if isinstance(n_buckets, Column) else F.lit(n_buckets)
    return F.pmod(
        F.xxhash64(F.lit(BUCKET_HASH_SEED), *[F.col(c) for c in key_cols]), n
    ).cast("int")


def _newest_mtime(path: str) -> float:
    """Latest mtime of ``path`` or anything below it: a Spark write in
    progress touches only its task files, not the dirs above them."""
    newest = os.path.getmtime(path)
    for top, dirs, files in os.walk(path):
        for n in dirs + files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(top, n)))
            except FileNotFoundError:
                pass
    return newest


@dataclass
class MergeCommit:
    """One table's share of a merge write: the fence and summary it
    commits with."""

    table: "LakeTable"
    batch_id: int
    writer: str = "default"
    summary: dict | None = None
    mode: str = "cow"


def merge_tables(
    changes: DataFrame, commits: dict[int, MergeCommit]
) -> dict[int, "dict | CommitConflict"]:
    """Write reduced change batches of several tables in ONE Spark job,
    then commit each table on its own.

    ``changes``: the row columns + ``_op`` + ``__t``, the integer index of
    the row's table in ``commits``; one row per (``__t``, key). The
    tables must share row schema, key columns and lake root. Steps:

    1. fenced tables (``batch_id`` <= their writer's last batch) drop out;
    2. every row gets its own table's bucket (a literal map lookup of
       ``n_buckets``), and the batch is written once, partitioned by
       (table, bucket), into ``<root>/_staging/<uuid>`` — one file per
       (table, bucket);
    3. per table: ``os.rename`` its ``__t=<i>`` slice into
       ``data/commit-<new version>-<uuid>`` (manifest paths stay
       table-relative), then one manifest CAS flip with its own fence.

    A table whose manifest lists no files gets its rows as base files,
    deletes dropped (no reconcile cost ever after). Returns per index the
    commit result, or the ``CommitConflict`` that table's flip lost — the
    other tables' commits stand, and the caller retries only the loser.
    A crash between flips leaves the flipped tables fenced for the batch
    and the rest behind; a crash before a rename leaves a staging dir,
    which ``expire_versions`` reclaims once it is ``ORPHAN_GRACE_SEC``
    old. :meth:`LakeTable.merge` is the one-table call."""
    out: dict[int, dict | CommitConflict] = {}
    ms = {}
    for t, c in commits.items():
        if c.mode not in ("cow", "mor"):
            # explicit: a legacy positional `scope` argument landing here
            # must fail loudly, not silently become a merge-on-read commit
            raise ValueError(f"unknown merge mode {c.mode!r} (cow|mor)")
        m = c.table.manifest()
        if not m.key_cols:
            raise ValueError(
                "keyless table (primary.key.mode=none) is insert-only — "
                "use append()"
            )
        last = m.summary.get("last_batch", {}).get(c.writer)
        if last is not None and c.batch_id <= last:
            out[t] = {"version": m.version, "skipped": True,
                      "reason": "fenced"}
        else:
            ms[t] = m
    if not ms:
        return out
    m0 = ms[min(ms)]
    # enforce the manifest schema (casts cover widened types; the sink
    # owns the final type, K3)
    data = changes.select(
        *[F.col(f.name).cast(type_of(f.type)).alias(f.name)
          for f in m0.fields],
        "_op", F.col("__t").cast("int").alias("__t"),
    )
    if len(ms) < len(commits):
        data = data.filter(F.col("__t").isin(list(ms)))
    sizes = {t: m.n_buckets for t, m in ms.items()}
    n = (next(iter(sizes.values())) if len(set(sizes.values())) == 1
         else F.create_map(*[F.lit(x) for t in sizes
                             for x in (t, sizes[t])])[F.col("__t")])
    data = data.withColumn("b", bucket_of(m0.key_cols, n))
    empty = [t for t, m in ms.items() if not m.files]
    if len(empty) == len(ms):
        data = data.filter(F.col("_op") != "d").drop("_op")
    elif empty:
        data = data.filter(
            (F.col("_op") != "d") | ~F.col("__t").isin(empty))
    staging = os.path.join(commits[min(ms)].table.root, STAGING_DIR,
                           uuid.uuid4().hex)
    try:
        # co-locate each (table, bucket) in one task before partitionBy,
        # else every task writes a file per bucket (tasks × buckets tiny
        # files — read amplification on every subsequent merge)
        data.repartition(sum(sizes.values()), "__t", "b").write.partitionBy(
            "__t", "b").parquet(staging)
        for t, m in ms.items():
            out[t] = commits[t].table._commit_merge(
                m, commits[t], os.path.join(staging, f"__t={t}"),
                kind="base" if t in empty else "delta",
            )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out


class LakeTable:
    """One versioned table rooted at ``<root>/<name>``."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        self.root = root
        self.name = name
        self.dir = os.path.join(root, name)
        self.meta_dir = os.path.join(self.dir, "meta")
        self.data_dir = os.path.join(self.dir, "data")
        #: resolved-manifest cache (manifests are immutable per version)
        self._manifests: dict[int, Manifest] = {}

    # -- lifecycle ----------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        name: str,
        fields: list[tuple[str, str]],
        key_cols: list[str],
        n_buckets: int = 16,
    ) -> "LakeTable":
        t = LakeTable(spark, root, name)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        flds = [Field(i + 1, n, ty) for i, (n, ty) in enumerate(fields)]
        m = Manifest(
            version=0, parent=None, n_buckets=n_buckets, key_cols=key_cols,
            epoch=0, epochs={"0": flds}, files=[], summary={"created_ms": int(time.time() * 1000)},
        )
        t._write_manifest(m, initial=True)
        return t

    @staticmethod
    def load(spark: SparkSession, root: str, name: str) -> "LakeTable":
        t = LakeTable(spark, root, name)
        if not os.path.exists(os.path.join(t.meta_dir, "VERSION")):
            raise FileNotFoundError(f"no table at {t.dir}")
        return t

    @staticmethod
    def exists(root: str, name: str) -> bool:
        return os.path.exists(os.path.join(root, name, "meta", "VERSION"))

    # -- manifests ----------------------------------------------------------

    def current_version(self) -> int:
        with open(os.path.join(self.meta_dir, "VERSION")) as fh:
            return int(fh.read().strip())

    def manifest(self, version: int | None = None) -> Manifest:
        v = self.current_version() if version is None else version
        return self._resolve_manifest(v)

    def _resolve_manifest(self, v: int) -> Manifest:
        """Load version ``v`` fully resolved: a delta-form manifest
        (``base`` + add/remove file delta) is folded onto its resolved
        base. Chains are at most FULL_MANIFEST_EVERY links; resolved
        manifests are cached (they are immutable)."""
        hit = self._manifests.get(v)
        if hit is not None:
            return hit
        with open(os.path.join(self.meta_dir, f"v{v}.json")) as fh:
            raw = json.load(fh)
        if raw.get("base") is None:
            m = Manifest.from_json(raw)
        else:
            base = self._resolve_manifest(raw["base"])
            remove = set(raw["delta"]["remove"])
            raw["files"] = [
                f for f in base.files if f["path"] not in remove
            ] + raw["delta"]["add"]
            m = Manifest.from_json(raw)
        if len(self._manifests) > 4 * FULL_MANIFEST_EVERY:
            # bound the cache: keep the most recent versions only
            for old in sorted(self._manifests)[: 2 * FULL_MANIFEST_EVERY]:
                del self._manifests[old]
        self._manifests[v] = m
        return m

    def _manifest_payload(self, m: Manifest) -> dict:
        """On-disk form of a commit: an APPEND/DELTA manifest when the
        parent is available and the chain is short — ``files`` is replaced
        by ``base`` (the parent version) + an add/remove path delta, so a
        steady-state commit writes O(changed files) bytes instead of
        re-listing the entire table (at 64k buckets a full list is
        megabytes PER COMMIT of driver-serial json+fsync). Every
        FULL_MANIFEST_EVERY commits the full list is written anyway,
        bounding the read-side resolution walk. The Iceberg analog:
        snapshots reference prior manifest files and add only new ones."""
        payload = m.to_json()
        if m.parent is None:
            return payload
        try:
            parent = self._resolve_manifest(m.parent)
        except FileNotFoundError:
            return payload
        if parent.chain + 1 >= FULL_MANIFEST_EVERY:
            return payload
        new_paths = {f["path"] for f in m.files}
        parent_by_path = {f["path"] for f in parent.files}
        add = [f for f in m.files if f["path"] not in parent_by_path]
        remove = [p for p in parent_by_path if p not in new_paths]
        if len(add) + len(remove) >= max(1, len(m.files)):
            return payload  # delta bigger than the full list: store full
        payload.pop("files")
        payload["base"] = m.parent
        payload["delta"] = {"add": add, "remove": remove}
        payload["chain"] = parent.chain + 1
        m.chain = parent.chain + 1
        return payload

    def _write_manifest(self, m: Manifest, *, initial: bool = False) -> None:
        """Commit = exclusive create of v{N}.json (losers of a concurrent
        race get CommitConflict before the pointer moves), then the atomic
        VERSION pointer flip."""
        path = os.path.join(self.meta_dir, f"v{m.version}.json")
        payload = self._manifest_payload(m)
        if initial:
            _atomic_write(path, json.dumps(payload))
        else:
            _exclusive_write(path, json.dumps(payload))
        self._manifests[m.version] = m
        _atomic_write(os.path.join(self.meta_dir, "VERSION"), str(m.version))

    @staticmethod
    def _carry_summary(m: Manifest, **extra) -> dict:
        """Commit-summary skeleton: every commit op carries the fence map,
        the replay checkpoint AND the incremental-snapshot progress forward
        unless it overrides them — losing any would un-fence redeliveries,
        rewind the resume point, or restart a mid-flight backfill from
        chunk 0."""
        base = {
            "last_batch": m.summary.get("last_batch", {}),
            "offsets": m.summary.get("offsets", {}),
            "committed_ms": int(time.time() * 1000),
        }
        if "incr_snapshot" in m.summary:
            base["incr_snapshot"] = m.summary["incr_snapshot"]
        base.update(extra)
        return base

    # -- read (with field-id schema mapping + time travel) -------------------

    def read(
        self,
        version: int | None = None,
        buckets: set[int] | None = None,
    ) -> DataFrame:
        """Read table state at ``version`` (default: current), optionally
        pruned to a bucket subset (driver-side manifest pruning — the
        scale-critical path for MERGE).

        Merge-on-read reconciliation is BUCKET-SCOPED: buckets are
        file-disjoint by the write invariant, so only buckets that actually
        hold delta files (MOR commits, Iceberg equality-delete analog) pay
        the per-key ``max_by(row, seq)`` reconcile — base-only buckets
        stream straight through with no aggregate and no shuffle. A reader
        between compactions therefore shuffles O(delta-bucket state), not
        O(table state). Within a reconciled bucket the winning row per key
        is the one from the highest commit ``seq`` — each file holds at
        most one row per key (base files are compacted state; delta files
        are reduced batches), so ``max_by`` per key is exact; delete
        markers (``_op='d'``) drop the key."""
        m = self.manifest(version)
        files = [
            f for f in m.files
            if buckets is None or f["bucket"] in buckets
        ]
        if not files:
            return self.spark.createDataFrame([], m.spark_schema())
        delta_buckets = {
            f["bucket"] for f in files if f.get("kind", "base") == "delta"
        }
        plain, rec = self._split_for_reconcile(files, delta_buckets)
        names = [f.name for f in m.fields]
        outs = []
        if plain:
            outs.append(self._read_mapped(m, plain, with_mor_cols=False))
        if rec:
            union = self._read_mapped(m, rec, with_mor_cols=True)
            payload = [c for c in names if c not in m.key_cols] + ["__op"]
            row = F.struct(*[F.col(c) for c in payload])
            outs.append(
                union.groupBy(*m.key_cols)
                .agg(F.max_by(row, F.col("__seq")).alias("__r"))
                .select(*m.key_cols, "__r.*")
                .filter(F.col("__op") != "d")
                .select(*names)
            )
        out = outs[0]
        for p in outs[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _split_for_reconcile(
        files: list[dict], delta_buckets: set[int]
    ) -> tuple[list[dict], list[dict]]:
        """Partition selected files into (base-only-bucket files, files of
        delta-bearing buckets). Only the latter enter the MOR reconcile."""
        plain = [f for f in files if f["bucket"] not in delta_buckets]
        rec = [f for f in files if f["bucket"] in delta_buckets]
        return plain, rec

    def touched_buckets(self, keys_df: DataFrame) -> set[int]:
        """The distinct bucket ids the given rows' key columns hash into —
        the driver-side pruning set for point-probe reads
        (``read(buckets=touched)``). A probe row can only ever match an
        index row in its own bucket (same key -> same hash -> same
        bucket), so reading the other buckets is provably wasted I/O; at
        64k buckets a small batch touches a tiny fraction of a 100 TB
        index. The collect is O(distinct buckets), bounded by
        ``n_buckets`` ints, never data."""
        m = self.manifest()
        b = bucket_of(m.key_cols, m.n_buckets)
        return {
            r[0]
            for r in keys_df.select(b.alias("__bucket")).distinct().collect()
        }

    def read_appended(
        self, since_version: int, version: int | None = None
    ) -> DataFrame:
        """Rows appended AFTER ``since_version`` (append-mode tables only):
        a file-level incremental read — only files whose commit ``seq``
        exceeds the watermark are scanned, so a poller pays O(new rows)
        per poll instead of O(table). Iceberg analog: incremental read
        between snapshot ids. Keyed tables are rejected: their state is
        reconciled (MOR), so 'new rows' is not a file-level notion there."""
        m = self.manifest(version)
        if m.key_cols:
            raise ValueError(
                "read_appended() is for append-mode (keyless) tables; "
                f"this table has key columns {m.key_cols}"
            )
        files = [f for f in m.files if f.get("seq", 0) > since_version]
        if not files:
            return self.spark.createDataFrame([], m.spark_schema())
        return self._read_mapped(m, files, with_mor_cols=False)

    def _read_mapped(
        self, m: Manifest, files: list[dict], *, with_mor_cols: bool
    ) -> DataFrame:
        """Union ``files`` mapped to the current schema: group by
        (write-time epoch, kind, commit seq); map each group's columns by
        FIELD ID (rename-safe), cast widened types, fill later-added
        columns with NULL/default. Iceberg does exactly this.
        ``with_mor_cols`` adds the ``__op``/``__seq`` reconcile columns."""
        cur = {f.id: f for f in m.fields}
        groups: dict[tuple, list[str]] = {}
        for f in files:
            k = (f["epoch"], f.get("kind", "base"), f.get("seq", 0))
            groups.setdefault(k, []).append(os.path.join(self.dir, f["path"]))
        parts = []
        for (ep, kind, seq), paths in groups.items():
            old = {f.id: f for f in m.epochs[str(ep)]}
            df = self.spark.read.parquet(*paths)
            cols = []
            for fid, cf in cur.items():
                if fid in old:
                    c = F.col(old[fid].name)
                    if old[fid].type != cf.type:
                        c = c.cast(type_of(cf.type))
                    cols.append(c.alias(cf.name))
                else:
                    # column added after this file was written: fill with
                    # its default (None = plain nullable add)
                    cols.append(
                        F.lit(cf.default).cast(type_of(cf.type)).alias(cf.name)
                    )
            if with_mor_cols:
                cols.append(
                    (F.col("_op") if kind == "delta" else F.lit("u")).alias("__op")
                )
                cols.append(F.lit(seq).cast("long").alias("__seq"))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- write paths ----------------------------------------------------------

    def _write_data(
        self, df: DataFrame, commit_tag: str, *,
        kind: str = "base", seq: int = 0, repartition: bool = True,
    ) -> list[dict]:
        """Write df (must carry __bucket col) partitioned by bucket under a
        unique commit dir; return manifest file entries.

        ``kind='delta'`` marks the files as MOR change files (they carry an
        ``_op`` column); ``seq`` is the commit sequence used for read-side
        last-write-wins. ``repartition=False`` skips the bucket-colocating
        shuffle for inputs already partitioned one-bucket-per-task (the
        compaction path)."""
        rel = os.path.join("data", f"commit-{commit_tag}")
        out_dir = os.path.join(self.dir, rel)
        n_buckets = self.manifest().n_buckets
        data = df.withColumnRenamed("__bucket", "b")
        if repartition:
            # co-locate each bucket into one task before partitionBy, else
            # every task writes a file per bucket (tasks × buckets tiny
            # files — read amplification on every subsequent merge)
            data = data.repartition(n_buckets, F.col("b"))
        data.write.mode("overwrite").partitionBy("b").parquet(out_dir)
        return self._entries(rel, self.manifest().epoch, kind=kind, seq=seq)

    def _entries(
        self, rel: str, epoch: int, *, kind: str, seq: int
    ) -> list[dict]:
        """Manifest entries for the ``b=<bucket>`` parquet files of the
        commit dir ``rel`` (table-relative)."""
        entries = []
        out_dir = os.path.join(self.dir, rel)
        for bdir in os.listdir(out_dir):
            if not bdir.startswith("b="):
                continue
            bucket = int(bdir.split("=")[1])
            for fn in os.listdir(os.path.join(out_dir, bdir)):
                if fn.endswith(".parquet"):
                    entries.append(
                        {"path": os.path.join(rel, bdir, fn), "bucket": bucket,
                         "epoch": epoch, "kind": kind, "seq": seq}
                    )
        return entries

    def overwrite(self, df: DataFrame, batch_id: int | None = None,
                  summary: dict | None = None) -> dict:
        """Replace the whole table (snapshot load path, S1)."""
        m = self.manifest()
        names = [f.name for f in m.fields]
        tag = f"{m.version + 1}-{uuid.uuid4().hex[:8]}"
        data = df.select(
            *[F.col(f.name).cast(type_of(f.type)).alias(f.name) for f in m.fields]
        ).withColumn("__bucket", bucket_of(m.key_cols, m.n_buckets))
        entries = self._write_data(data, tag, seq=m.version + 1)
        new = Manifest(
            version=m.version + 1, parent=m.version, n_buckets=m.n_buckets,
            key_cols=m.key_cols, epoch=m.epoch, epochs=m.epochs, files=entries,
            # overwrite replaces DATA, not replay progress (else the next
            # replay restarts at offset 0 and stomps the fresh state)
            summary=self._carry_summary(
                m, **(summary or {}), op="overwrite", batch_id=batch_id),
        )
        self._write_manifest(new)
        return {"version": new.version, "files": len(entries)}

    def append(
        self,
        rows: DataFrame,
        batch_id: int,
        writer: str = "default",
        summary: dict | None = None,
    ) -> dict:
        """insert.mode=insert (K2): append rows with NO key semantics —
        the path for keyless tables (primary.key.mode=none) and
        audit/event-log sinks. Still fenced per (writer, batch_id). Rows
        are bucketed by a hash of ALL columns (no key to bucket by), so
        files stay balanced and size-bounded.

        Keyed tables are rejected: their files must obey the
        ``bucket = pmod(hash(key), N)`` invariant that merge/compaction
        co-location relies on — an all-column-hashed append would place a
        key's row in the wrong bucket, and per-bucket compaction would then
        keep it alongside the merged row (duplicate keys on read)."""
        m = self.manifest()
        if m.key_cols:
            raise ValueError(
                "append() is insert-only for keyless tables "
                "(primary.key.mode=none); this table has key columns "
                f"{m.key_cols} — use merge()"
            )
        last = m.summary.get("last_batch", {}).get(writer)
        if last is not None and batch_id <= last:
            return {"version": m.version, "skipped": True, "reason": "fenced"}
        if self.delta_counts(m):
            raise ValueError("append-mode table cannot hold merge deltas")
        new_version = m.version + 1
        tag = f"{new_version}-{uuid.uuid4().hex[:8]}"
        names = [f.name for f in m.fields]
        data = rows.select(
            *[F.col(f.name).cast(type_of(f.type)).alias(f.name) for f in m.fields]
        ).withColumn("__bucket", bucket_of(names, m.n_buckets))
        entries = self._write_data(data, tag, kind="base", seq=new_version)
        last_batch = dict(m.summary.get("last_batch", {}))
        last_batch[writer] = batch_id
        new = Manifest(
            version=new_version, parent=m.version, n_buckets=m.n_buckets,
            key_cols=m.key_cols, epoch=m.epoch, epochs=m.epochs,
            files=m.files + entries,
            summary=self._carry_summary(
                m, **(summary or {}), op="append", batch_id=batch_id,
                writer=writer, last_batch=last_batch),
        )
        self._write_manifest(new)
        return {"version": new.version, "skipped": False,
                "files": len(entries)}

    def merge(
        self,
        changes: DataFrame,
        batch_id: int,
        writer: str = "default",
        summary: dict | None = None,
        mode: str = "cow",
        scope: str | None = None,  # retained for API compat; unused
    ) -> dict:
        """Apply a reduced change batch: columns = current schema + ``_op``
        ('u' upsert / 'd' delete), exactly one row per key.

        Idempotent: if (writer, batch_id) is already <= the last committed
        batch for that writer, the call is a no-op (fencing).

        The merge is a *shuffle-to-storage* design: the batch is hash-
        repartitioned once on its bucket and written as bucket-partitioned
        **delta files** — the only exchange anywhere is the O(batch) one
        that colocates changes with their bucket. Current state is NEVER
        shuffled:

        - ``mode='mor'`` (merge-on-read): commit stops at the delta files
          — O(batch) bytes regardless of bucket density (Iceberg
          equality-delete analog; a 1-key trickle batch commits one tiny
          file, not a bucket rewrite). Readers reconcile via per-key
          max-by-seq (see ``read``); ``compact`` folds deltas down.
        - ``mode='cow'`` (default): after the delta write, the affected
          buckets are compacted in the SAME commit, so the committed state
          is pure base files (round-trip identical to a classic
          copy-on-write MERGE). Compaction is bucket-aligned and
          exchange-free — each task reads exactly one bucket's base+delta
          files with pyarrow and rewrites that bucket (a storage-
          partitioned join: the on-disk invariant bucket =
          pmod(xxhash64(seed, key), N) makes co-location free).

        This is the one-table call of :func:`merge_tables`, which a
        multi-table batch uses to write every table in one job. Reference
        sink semantics unchanged: jdbc-sink/JdbcChangeEventSink.java:72-158,
        dialect MERGE at dialect/sqlserver/SqlServerDatabaseDialect.java:
        128-130. A lost commit race raises ``CommitConflict``.
        """
        res = merge_tables(
            changes.withColumn("__t", F.lit(0)),
            {0: MergeCommit(self, batch_id, writer, summary, mode)},
        )[0]
        if isinstance(res, CommitConflict):
            raise res
        return res

    def _commit_merge(
        self, m: Manifest, c: MergeCommit, staged: str, *, kind: str
    ) -> "dict | CommitConflict":
        """Adopt this table's staged slice (``staged``, a dir of
        ``b=<bucket>`` parquet dirs; absent when the batch has no row for
        the table) as commit ``m.version + 1`` and flip the manifest. The
        offsets and fence commit even with no rows."""
        new_version = m.version + 1
        tag = f"{new_version}-{uuid.uuid4().hex[:8]}"
        rel = os.path.join("data", f"commit-{tag}")
        entries = []
        if os.path.isdir(staged):
            os.rename(staged, os.path.join(self.dir, rel))
            entries = self._entries(rel, m.epoch, kind=kind, seq=new_version)
        # affected buckets fall out of the partitioned write — no
        # pre-pass, no persist, no distinct-collect
        affected = {e["bucket"] for e in entries}
        files = m.files + entries
        if kind == "delta" and c.mode == "cow" and affected:
            old_aff = [f for f in m.files if f["bucket"] in affected]
            base_entries = self._compact_files(
                m, old_aff + entries, f"{tag}-c", seq=new_version
            )
            files = [f for f in m.files if f["bucket"] not in affected]
            files += base_entries
            # the intra-commit delta files are referenced by no
            # manifest — remove their dir eagerly
            shutil.rmtree(os.path.join(self.dir, rel), ignore_errors=True)
        last_batch = dict(m.summary.get("last_batch", {}))
        last_batch[c.writer] = c.batch_id
        new = Manifest(
            version=new_version, parent=m.version, n_buckets=m.n_buckets,
            key_cols=m.key_cols, epoch=m.epoch, epochs=m.epochs,
            files=files,
            summary=self._carry_summary(
                m, **(c.summary or {}), op="merge", mode=c.mode,
                batch_id=c.batch_id, writer=c.writer, last_batch=last_batch,
                affected_buckets=sorted(affected)),
        )
        try:
            self._write_manifest(new)
        except CommitConflict as e:
            return e
        return {
            "version": new.version,
            "skipped": False,
            "affected_buckets": len(affected),
            "files": len(new.files),
        }

    # -- compaction (storage-partitioned, exchange-free) ---------------------

    def delta_counts(self, m: Manifest | None = None) -> dict[int, int]:
        """Per-bucket count of outstanding delta files (MOR bookkeeping)."""
        m = m or self.manifest()
        out: dict[int, int] = {}
        for f in m.files:
            if f.get("kind", "base") == "delta":
                out[f["bucket"]] = out.get(f["bucket"], 0) + 1
        return out

    def compact(self, buckets: set[int] | None = None) -> dict:
        """Fold a bucket subset's base+delta files into fresh base files
        (default: every bucket holding deltas). Maintenance analog of
        Iceberg's rewrite_data_files; preserves fences and offsets."""
        m = self.manifest()
        with_deltas = set(self.delta_counts(m))
        target = with_deltas if buckets is None else (buckets & with_deltas)
        if not target:
            return {"version": m.version, "compacted_buckets": 0}
        new_version = m.version + 1
        tag = f"{new_version}-{uuid.uuid4().hex[:8]}-compact"
        group = [f for f in m.files if f["bucket"] in target]
        entries = self._compact_files(m, group, tag, seq=new_version)
        kept = [f for f in m.files if f["bucket"] not in target]
        new = Manifest(
            version=new_version, parent=m.version, n_buckets=m.n_buckets,
            key_cols=m.key_cols, epoch=m.epoch, epochs=m.epochs,
            files=kept + entries,
            summary=self._carry_summary(
                m, op="compact", compacted_buckets=sorted(target)),
        )
        self._write_manifest(new)
        return {"version": new.version, "compacted_buckets": len(target)}

    def _compact_files(
        self, m: Manifest, files: list[dict], tag: str, seq: int
    ) -> list[dict]:
        """Rewrite ``files`` (≥1 buckets of base+delta parquet) into one
        base file per bucket, with per-key last-write-wins by commit seq
        and delete-marker elimination.

        This is the storage-partitioned-join emulation (SURVEY §4 / the
        'plan you'd want at 100×'): the files of a bucket are ALREADY
        co-located by the write invariant, so each Spark task reads its
        bucket's files directly with pyarrow and reduces them locally —
        the physical plan has NO exchange and NO sort of table state; the
        only Spark machinery is task scheduling + the parquet write.
        Scale contract (same as Iceberg SPJ): n_buckets must be sized so
        one bucket's live state fits a task (e.g. 100 TB / 64k buckets
        ≈ 1.6 GB/task).
        """
        by_bucket: dict[int, list[dict]] = {}
        for f in files:
            by_bucket.setdefault(f["bucket"], []).append(f)
        specs = [
            json.dumps({
                "bucket": b,
                "files": sorted(fs, key=lambda e: e.get("seq", 0)),
            })
            for b, fs in sorted(by_bucket.items())
        ]
        root = self.dir
        epochs_json = {k: [f.to_json() for f in v] for k, v in m.epochs.items()}
        cur_fields = [f.to_json() for f in m.fields]
        key_cols = list(m.key_cols)
        out_schema = T.StructType(
            list(m.spark_schema().fields)
            + [T.StructField("b", T.IntegerType(), False)]
        )

        def compact_fn(batches):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            for batch in batches:
                for spec_s in batch.column(0).to_pylist():
                    spec = json.loads(spec_s)
                    tables = []
                    for fe in spec["files"]:  # ascending seq
                        t = pq.read_table(os.path.join(root, fe["path"]))
                        old_by_id = {
                            f["id"]: f for f in epochs_json[str(fe["epoch"])]
                        }
                        n = t.num_rows
                        arrays, names = [], []
                        for cf in cur_fields:
                            at = arrow_type_of(cf["type"])
                            if cf["id"] in old_by_id:
                                arr = t.column(old_by_id[cf["id"]]["name"])
                                if arr.type != at:
                                    arr = pc.cast(arr, at)
                            elif cf["default"] is not None:
                                arr = pa.array([cf["default"]] * n, type=at)
                            else:
                                arr = pa.nulls(n, at)
                            arrays.append(arr)
                            names.append(cf["name"])
                        if fe.get("kind", "base") == "delta":
                            op = pc.cast(t.column("_op"), pa.string())
                        else:
                            op = pa.array(["u"] * n, type=pa.string())
                        arrays.append(op)
                        names.append("__op")
                        tables.append(pa.Table.from_arrays(arrays, names=names))

                    # last-write-wins: walk files newest-first; a key wins
                    # on first sight (each file holds ≤1 row per key).
                    # Composite keys join LENGTH-PREFIXED so a separator
                    # character inside a key component cannot alias two
                    # distinct keys ("a\x1fb","c" vs "a","b\x1fc").
                    def _keystr(t):
                        parts = []
                        for k in key_cols:
                            s = pc.cast(t.column(k), pa.string())
                            parts.append(
                                pc.cast(pc.utf8_length(s), pa.string())
                            )
                            parts.append(s)
                        return pc.binary_join_element_wise(*parts, "\x1f")

                    seen = None
                    survivors = []
                    for t in reversed(tables):
                        keystr = _keystr(t)
                        if seen is not None:
                            mask = pc.invert(
                                pc.is_in(keystr, value_set=seen)
                            )
                            t = t.filter(mask)
                            keystr = keystr.filter(mask)
                        survivors.append(t)
                        ks = (
                            keystr.combine_chunks()
                            if isinstance(keystr, pa.ChunkedArray)
                            else keystr
                        )
                        seen = (
                            ks if seen is None
                            else pa.concat_arrays([seen, ks])
                        )
                    out = pa.concat_tables(survivors)
                    out = out.filter(pc.not_equal(out.column("__op"), "d"))
                    out = out.drop_columns(["__op"]).append_column(
                        "b",
                        pa.array([spec["bucket"]] * out.num_rows, pa.int32()),
                    )
                    if out.num_rows:
                        yield from out.to_batches()

        spec_df = (
            self.spark.createDataFrame([(s,) for s in specs], "spec string")
            .coalesce(1)          # single input partition so the round-
            .repartition(len(specs))  # robin gives exactly 1 spec per task
        )
        compacted = spec_df.mapInArrow(compact_fn, out_schema)
        return self._write_data(
            compacted.withColumnRenamed("b", "__bucket"), tag,
            kind="base", seq=seq, repartition=False,
        )

    def delete_where(self, predicate: str, batch_id: int | None = None) -> dict:
        """Targeted delete (K4: truncate/delete handling), bucket-pruned:
        only buckets that hold a matching row are rewritten; every other
        bucket keeps its files untouched (Iceberg's delete-file/partition
        pruning analog). ``'true'`` (the TRUNCATE path) short-circuits to
        an empty manifest — no Spark job at all."""
        m = self.manifest()
        names = [f.name for f in m.fields]
        if predicate.strip().lower() == "true":
            new = Manifest(
                version=m.version + 1, parent=m.version,
                n_buckets=m.n_buckets, key_cols=m.key_cols, epoch=m.epoch,
                epochs=m.epochs, files=[],
                summary=self._carry_summary(
                    m, op="delete_where", predicate=predicate,
                    batch_id=batch_id),
            )
            self._write_manifest(new)
            return {"version": new.version,
                    "rewritten_buckets": len({f["bucket"] for f in m.files})}
        # keyless (append-mode) tables bucket by all columns — mirror that
        bucket_cols = m.key_cols or names
        bucket_col = bucket_of(bucket_cols, m.n_buckets)
        matched = {
            r[0]
            for r in self.read().filter(predicate)
            .select(bucket_col.alias("b")).distinct().collect()
        }
        if not matched:
            return {"version": m.version, "rewritten_buckets": 0}
        tag = f"{m.version + 1}-{uuid.uuid4().hex[:8]}"
        remaining = self.read(buckets=matched).filter(f"NOT ({predicate})")
        data = remaining.select(*names).withColumn("__bucket", bucket_col)
        entries = self._write_data(data, tag, seq=m.version + 1)
        kept = [f for f in m.files if f["bucket"] not in matched]
        new = Manifest(
            version=m.version + 1, parent=m.version, n_buckets=m.n_buckets,
            key_cols=m.key_cols, epoch=m.epoch, epochs=m.epochs,
            files=kept + entries,
            summary=self._carry_summary(
                m, op="delete_where", predicate=predicate, batch_id=batch_id),
        )
        self._write_manifest(new)
        return {"version": new.version, "rewritten_buckets": len(matched)}

    # -- schema evolution (field-id based; SURVEY §1.2 / K3) -----------------

    def evolve(self, changes: list[dict]) -> dict:
        """Apply schema changes: each is one of
        {"action":"add","name":...,"type":...},
        {"action":"rename","from":...,"to":...},
        {"action":"widen","name":...,"type":...},
        {"action":"drop","name":...}.

        Sink rule (JdbcChangeEventSink.java:325-331): added columns must be
        nullable (optional) — enforced here by construction. Rename keeps the
        field id so old data files remain readable (TableChanges ALTER with
        previousId, core/relational/history/TableChanges.java:49).
        """
        m = self.manifest()
        flds, key_cols = apply_schema_changes(m.fields, m.key_cols, changes)
        new_epoch = m.epoch + 1
        epochs = dict(m.epochs)
        epochs[str(new_epoch)] = flds
        new = Manifest(
            version=m.version + 1, parent=m.version, n_buckets=m.n_buckets,
            key_cols=key_cols, epoch=new_epoch, epochs=epochs, files=m.files,
            summary=self._carry_summary(m, op="evolve", changes=changes),
        )
        self._write_manifest(new)
        return {"version": new.version, "epoch": new_epoch}

    # -- maintenance ----------------------------------------------------------

    def expire_versions(self, keep_last: int = 2) -> int:
        """GC data files referenced only by expired manifests.

        Only versions STRICTLY OLDER than the keep window are touched —
        a version committed concurrently after our current_version()
        snapshot (v > cur) is never expired, so racing GC against another
        writer's fresh commit cannot destroy it."""
        cur = self.current_version()
        keep = set(range(max(0, cur - keep_last + 1), cur + 1))
        horizon_lo = min(keep, default=0)
        live: set[str] = set()
        all_versions = [
            int(f[1:-5]) for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        for v in keep:
            if v in all_versions:
                live |= {f["path"] for f in self.manifest(v).files}
        # delta-manifest chain safety: kept manifests may be stored as
        # deltas chaining through bases BELOW the horizon. Those base
        # manifest FILES are retained (at most FULL_MANIFEST_EVERY tiny
        # json files — never rewritten, so expire stays O(delta) serial
        # work per commit); their DATA files are still GC'd normally.
        # Resolution stays correct because it is pure path algebra: a
        # GC'd data path is by definition subtracted by some later
        # delta's remove-list before any kept version's file list.
        def _raw_base(v: int) -> int | None:
            with open(os.path.join(self.meta_dir, f"v{v}.json")) as fh:
                return json.load(fh).get("base")

        reachable: set[int] = set()
        for v in sorted((v for v in all_versions if v in keep), reverse=True):
            b = _raw_base(v)
            while b is not None and b not in reachable:
                reachable.add(b)
                b = _raw_base(b)
        # resolve every expiring manifest BEFORE deleting any of them (a
        # delta chains to its parent; deleting in listdir order would
        # break resolution of a not-yet-visited sibling)
        old_versions = sorted(v for v in all_versions if v < horizon_lo)
        old_files = {v: self.manifest(v).files for v in old_versions}
        removed = 0
        for v in old_versions:
            for f in old_files[v]:
                if f["path"] not in live:
                    p = os.path.join(self.dir, f["path"])
                    if os.path.exists(p):
                        os.remove(p)
                        removed += 1
            if v not in reachable:
                os.remove(os.path.join(self.meta_dir, f"v{v}.json"))
            self._manifests.pop(v, None)
        # orphaned commit dirs: a crash between a data write and its
        # manifest commit leaves a commit-{V}-... dir referenced by NO
        # manifest, ever (version numbers strictly increase, so an old V
        # can never be adopted by a future commit). Reclaim dirs whose
        # intended version fell out of the keep window and whose files are
        # not live — the Iceberg orphan-file cleanup analog.
        horizon = min(keep, default=0)
        for d in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, d)
            if not (os.path.isdir(full) and d.startswith("commit-")):
                continue
            try:
                intended = int(d.split("-")[1])
            except (IndexError, ValueError):
                continue
            has_live = any(
                p.startswith(os.path.join("data", d)) for p in live
            )
            if intended < horizon and not has_live:
                shutil.rmtree(full, ignore_errors=True)
                continue
            # also clean now-empty commit dirs — but age-gated: a CONCURRENT
            # writer's in-flight commit dir (intended >= horizon) is legally
            # empty until its first task-committed parquet file lands, so an
            # empty dir is only reclaimed after a grace period
            if (
                not any(
                    fn.endswith(".parquet")
                    for _, _, fns in os.walk(full) for fn in fns
                )
                and time.time() - os.path.getmtime(full) > ORPHAN_GRACE_SEC
            ):
                shutil.rmtree(full)
        # staging residue: a crash after a merge write and before its
        # renames leaves <root>/_staging/<uuid>, referenced by nothing.
        # Age-gated like the empty dirs above: a concurrent batch's
        # staging dir is in flight until it has been renamed away
        staging = os.path.join(self.root, STAGING_DIR)
        if os.path.isdir(staging):
            for d in os.listdir(staging):
                full = os.path.join(staging, d)
                try:
                    age = time.time() - _newest_mtime(full)
                except FileNotFoundError:  # its writer just finished
                    continue
                if age > ORPHAN_GRACE_SEC:
                    shutil.rmtree(full, ignore_errors=True)
        return removed
